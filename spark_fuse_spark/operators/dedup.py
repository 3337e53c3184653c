"""Document deduplication at training-data scale.

Five strategies, all shuffle-architected for 100 TB:

* :func:`dedup_exact` — content-hash groupBy; one shuffle on a 60-bit
  fingerprint, map-side partial aggregation.
* :func:`ngram_jaccard_pairs` — EXACT n-gram Jaccard; for threshold > 0
  it rides :func:`jaccard_prefix_pairs` (AllPairs/PPJoin prefix
  filtering), so the inverted-index self-join only ever touches each
  document's rarest shingles — a df=10⁶ stopword shingle can no longer
  put 10¹² candidate rows behind one join key.
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: candidate generation is a groupBy on (band, band-hash) so the
  shuffle volume is O(docs × bands), never O(n²); candidates are then
  verified with exact Jaccard.
* :func:`simhash_pairs` — 64-bit SimHash with block-permutation
  candidate generation (Hamming ≤ k via (k+1)-block pigeonhole), then
  exact ``bit_count(xor)`` verification.
* :func:`embedding_neardup_pairs` — exact cosine-threshold pairs over an
  embedding column (see ``operators.similarity`` for the ANN variants).

Every exact shingle-pair operator (Jaccard prefix, containment, the
three MinHash variants) verifies its candidate pairs the same way:
:func:`_shared_shingles` joins each pair to both documents' shingle
sets and counts ``size(array_intersect)`` — two id-keyed joins over
O(candidates) rows.  The only shingle-hash self-joins are the
candidate generators (prefix and containment) and the per-pair
shared-count census (:func:`_shingle_census`).

Materialization: an operator checkpoints only a frame that it reads
more than once itself (the exploded shingles, the shingle sets, the
signatures); its result is a plan.  A caller that reads a result more
than once checkpoints it.

Every hash is the *portable* md5-based hash from ``functions.hashing``,
so all five strategies are differential-testable against a SQL oracle —
including the probabilistic ones, because given identical hash values
MinHash/SimHash are deterministic.

No Python UDFs anywhere: shingling/hashing/banding are higher-order
Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import minhash_permutations, portable_hash64  # noqa: F401
from ..functions.text import doc_fingerprint, word_shingles

__all__ = [
    "dedup_exact",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "bbit_minhash_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_pairs",
    "embedding_neardup_pairs",
    "embedding_lsh_pairs",
    "cross_corpus_overlap",
    "winnowing_fingerprints",
    "winnowing_pairs",
]


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact (normalized) text.

    Single hash-aggregate shuffle on the fingerprint; the fingerprint is
    60 bits so group keys stay fixed-width regardless of document size.
    """
    return (
        df.withColumn("__fp", doc_fingerprint(text_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle_hash, n_shingles) — one row per distinct doc-shingle.

    Shingles are hashed to 60-bit ints *before* the explode+shuffle so the
    join key is 8 bytes, not a k-word string.
    """
    sh = df.select(F.col(id_col).alias("__id"), word_shingles(text_col, k).alias("__sh"))
    # explode_outer, then drop the null rows it emits for empty and null
    # arrays: a plain explode (or a size filter on __sh) makes Spark add
    # ``size(__sh) > 0`` below the projection, which copies the whole
    # tokenize+shingle tree into the filter, so each document would pay
    # for it three times.  Shingles are never null (concat_ws), so the
    # filter drops exactly the empty documents.  Hash AFTER the explode:
    # md5 then runs in WholeStageCodegen on flat rows instead of inside
    # an interpreted higher-order transform.
    return (
        sh.select("__id", F.size("__sh").alias("__n"), F.explode_outer("__sh").alias("__s"))
        .where(F.col("__s").isNotNull())
        .select("__id", "__n", portable_hash64("__s").alias("__h"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    prefix_filter: bool = True,
) -> DataFrame:
    """EXACT Jaccard-over-k-shingles pairs with similarity ≥ threshold.
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    Default plan (``prefix_filter=True``, any threshold > 0): delegate to
    :func:`jaccard_prefix_pairs` — candidates come from a self-join over
    each document's RAREST shingles only, so one corpus-stopword shingle
    with df=10⁶ can no longer put 10¹² pair rows behind a single join key
    (the hot-shingle skew bomb of the plain inverted index).  Same exact
    answer, scale-safe shape.

    The plain inverted-index join (explode → self-join on shingle hash →
    count shared → Jaccard; candidate volume Σ_h df(h)²) survives for
    ``threshold <= 0`` — an every-pair-sharing-≥1-shingle census, where
    no prefix can prune anything by definition (used by the LSH band
    planner on SAMPLE strata) — and as the ``prefix_filter=False``
    differential-testing escape hatch.
    """
    if prefix_filter and threshold > 0.0:
        return jaccard_prefix_pairs(df, text_col, id_col, k, threshold)
    return _jaccard_rows(
        _shingle_census(_exploded_shingles(df, text_col, id_col, k)), threshold
    )


def _shingle_census(e: DataFrame) -> DataFrame:
    """``(id_a, id_b, na, nb, shared)`` for EVERY pair sharing ≥ 1
    hash of ``e`` (``(__id, __n, __h)`` rows): the plain inverted-index
    self-join on the hash plus a per-pair count (candidate volume
    Σ_h df(h)²).  The ``threshold <= 0`` census paths use it — no prefix
    can prune a pair that shares one shingle — and so do the winnowing
    pairs, whose fingerprint index is capped by document frequency."""
    a = e.select(F.col("__id").alias("id_a"), F.col("__n").alias("na"), "__h")
    b = e.select(F.col("__id").alias("id_b"), F.col("__n").alias("nb"), "__h")
    return (
        a.join(b, "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def _shared_shingles(candidates: DataFrame, sets: DataFrame) -> DataFrame:
    """The candidate rows plus ``(na, nb, shared)``, for each
    ``(id_a, id_b)`` candidate pair that shares ≥ 1 shingle — the one
    exact verify of every candidate-generating operator.  Any other
    candidate column passes through.

    ``sets`` holds one row per document, ``(__id, __n, __hs)``; the
    pair meets both documents' sets through two id-keyed joins and
    ``shared`` is ``size(array_intersect)``, so the work is O(candidates)
    rows, never a shingle-level co-occurrence join.  Pairs with no
    shared shingle are dropped: a candidate means "≥ 1 shared shingle",
    and a Jaccard or containment of 0 is never a result."""
    a = sets.select(
        F.col("__id").alias("id_a"), F.col("__n").alias("na"), F.col("__hs").alias("__ha")
    )
    b = sets.select(
        F.col("__id").alias("id_b"), F.col("__n").alias("nb"), F.col("__hs").alias("__hb")
    )
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("shared", F.size(F.array_intersect("__ha", "__hb")))
        .drop("__ha", "__hb")
        .where(F.col("shared") > 0)
    )


def _jaccard_rows(shared: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)`` rows of a shared-count frame whose exact
    Jaccard ``shared / (na + nb - shared)`` is ≥ threshold."""
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT shingle-containment pairs: |A∩B| / min(|A|,|B|) ≥ threshold.

    The asymmetric companion to :func:`ngram_jaccard_pairs`: a short
    document fully embedded in a long one has near-1 containment but a
    Jaccard diluted by the union denominator below any usable threshold —
    this is the quote/boilerplate/subset-dedup detector (the set-
    similarity-join containment variant, cf. Broder 1997's resemblance
    vs containment).  Same inverted-index plan as Jaccard: documents
    only meet when they share a shingle; shuffle is keyed by 8-byte
    shingle hashes.  Output: (id_contained, id_container, containment)
    where the contained doc is the one with fewer distinct shingles
    (ties break to the smaller id).

    Hot-shingle guard (``threshold > 0``): candidates come from an
    ASYMMETRIC prefix join — the designated-smaller document's prefix
    (its ``n - ceil(t·n) + 1`` globally-rarest shingles) against the
    other side's full inverted index.  Exact, because containment ≥ t
    forces the smaller doc to share ≥ ceil(t·n_small) shingles, and its
    non-prefix tail only has ceil(t·n_small) - 1 — so at least one
    shared shingle sits in the prefix.  Candidate volume drops from
    Σ_h df(h)² to Σ_h pf(h)·df(h), where pf counts prefix occurrences:
    a corpus-stopword shingle ranks LAST in every document's
    rarest-first order, so its pf is ~0 and it no longer detonates the
    self-join.  Each candidate pair is then verified by
    ``size(array_intersect)`` over the two documents' shingle sets — the
    same per-document table the prefix is cut from.  ``threshold <= 0``
    falls back to the plain inverted-index census (no prefix can prune
    an every-shared-shingle census).
    """
    if threshold <= 0.0:
        return _containment_rows(
            _shingle_census(_exploded_shingles(df, text_col, id_col, k)), threshold
        )
    # the exploded frame feeds the set build AND the candidate join's
    # full-index side; the sets feed the prefix and both verify legs
    e, sets = _checkpointed_sets(df, text_col, id_col, k)
    candidates = _containment_prefix_candidates(e, sets, threshold)
    return _containment_rows(_shared_shingles(candidates, sets), threshold)


def _containment_rows(shared: DataFrame, threshold: float) -> DataFrame:
    """``(id_contained, id_container, containment)`` rows of a
    shared-count frame whose ``shared / min(na, nb)`` is ≥ threshold;
    the contained doc has fewer shingles, ties to the smaller id."""
    cont = F.col("shared") / F.least(F.col("na"), F.col("nb"))
    a_contained = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        shared.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select(
            F.when(a_contained, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "id_contained"
            ),
            F.when(a_contained, F.col("id_b")).otherwise(F.col("id_a")).alias(
                "id_container"
            ),
            F.round("containment", 6).alias("containment"),
        )
    )


def _containment_prefix_candidates(
    e: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Candidate (id_a, id_b) pairs for the containment join: the
    designated-smaller side's rarest-shingle prefix (cut from the
    :func:`_shingle_sets` table ``sets``) against the full inverted
    index ``e`` — join volume Σ_h pf(h)·df(h), exact per the prefix
    argument in :func:`containment_pairs`."""
    prefix = _prefix_rows(sets, threshold)
    ps = prefix.select(F.col("__id").alias("__sid"), F.col("__n").alias("__sn"), "__h")
    fl = e.select(F.col("__id").alias("__lid"), F.col("__n").alias("__ln"), "__h")
    return (
        ps.join(fl, "__h")
        .where(
            (F.col("__sn") < F.col("__ln"))
            | ((F.col("__sn") == F.col("__ln")) & (F.col("__sid") < F.col("__lid")))
        )
        .select(
            F.least("__sid", "__lid").alias("id_a"),
            F.greatest("__sid", "__lid").alias("id_b"),
        )
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>[num_hashes]) MinHash signatures: each
    document's per-permutation minima (:func:`_minhash_mins`), one
    partially aggregated shuffle of O(docs) rows.
    """
    mins = _minhash_mins(_exploded_shingles(df, text_col, id_col, k), num_hashes, seed)
    return mins.select(
        F.col("__id").alias(id_col),
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def _minhash_mins(e: DataFrame, num_hashes: int, seed: int) -> DataFrame:
    """``(__id, __m0 … __m{num_hashes-1})``: each document's minimum of
    every permutation over its exploded shingle hashes ``e``."""
    # Shape matters more than expression tricks here: apply the
    # permutation family to the SCALAR hash of each exploded row and take
    # per-doc mins through a hash aggregate.  The aggregate gives (a)
    # map-side partial mins — shuffle is O(docs), not O(shingles) — and
    # (b) an optimizer barrier, so downstream band extraction reads plain
    # attributes instead of re-evaluating the signature tree per
    # reference (the naive nested-array form re-ran md5+decimal-pmod up
    # to 32× per row; measured 60s → ~3s at sf0.1).
    perms = minhash_permutations(F.col("__h"), num_hashes, seed)
    return e.groupBy("__id").agg(*[F.min(p).alias(f"__m{i}") for i, p in enumerate(perms)])


def _band_candidates(mins: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs, id_a < id_b, whose signatures
    (``mins``, shaped like :func:`_minhash_mins`) agree on ALL rows of
    ≥ 1 of ``bands`` bands.

    Scale shape: a groupBy on (band_index, band values) — shuffle
    O(docs × bands); the O(n²) blow-up can only happen inside a single
    bucket, which LSH keeps small by design."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    # bucket key = the band's raw min-tuple.  Hashing the tuple (the
    # oracle uses sha256) only relabels buckets — equality of the tuple
    # IS equality of the hash — so the Spark side skips the array
    # assembly + sha2 chain entirely.
    band_rows = mins.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        *[F.col(f"__m{i * r + j}").alias(f"v{j}") for j in range(r)],
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("__id", "b.*")
    # pair generation by bucket groupBy, not a self-join: the signature
    # subtree is evaluated ONCE, and the quadratic step is confined to
    # within-bucket id lists (small by LSH design)
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                F.col("__ids"),
                lambda x: F.transform(
                    F.col("__ids"),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        ),
        lambda s: s.id_a < s.id_b,
    )
    return (
        band_rows.groupBy("band", *[f"v{j}" for j in range(r)])
        .agg(F.array_sort(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _unordered_sets(e: DataFrame) -> DataFrame:
    """``(__id, __n, __hs)`` per document in no particular order — one
    groupBy over the exploded frame, for callers that verify but cut no
    prefix (the df-ordered :func:`_shingle_sets` would cost an extra
    frequency aggregate and join)."""
    return e.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"), F.collect_list("__h").alias("__hs")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs.

    ``num_hashes`` must divide into ``bands`` equal rows-per-band.  Docs
    whose signature agrees on ALL rows of ≥1 band become candidates
    (probability 1-(1-s^r)^b); each candidate is verified with exact
    Jaccard ≥ threshold over the two documents' shingle sets
    (:func:`_shared_shingles`), so a pair sharing no shingle is never
    returned, even at ``threshold=0``.

    Scale shape: candidates come from a groupBy on (band_index,
    band_hash) — shuffle O(docs × bands) (:func:`_band_candidates`); the
    verify is two id-keyed joins over O(candidates) rows.
    """
    # the exploded shingles feed the signature aggregate AND the set
    # build; unshared, Spark recomputes the tokenize+md5 subtree once per
    # consumer (measured 4× at sf0.1).  A lazy checkpoint builds it once,
    # inside the one query that reads it twice.
    e = _exploded_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    candidates = _band_candidates(_minhash_mins(e, num_hashes, seed), num_hashes, bands)
    return _jaccard_rows(_shared_shingles(candidates, _unordered_sets(e)), threshold)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 1
) -> DataFrame:
    """64-bit SimHash over k-word shingles → (id, simhash bigint).

    Classic bit-vote construction: for each of 64 bits, sum +1/-1 votes
    over token hashes, bit set iff the vote is positive.  Expressed as a
    single ``aggregate`` over the shingle array (zero extra shuffles).
    We use 60 bits (the portable hash width) — plenty for banding.
    """
    sh = df.select(
        F.col(id_col), word_shingles(text_col, k).alias("__sh")
    ).filter(F.size("__sh") > 0).select(
        F.col(id_col), F.transform("__sh", lambda s: portable_hash64(s)).alias("__hs")
    )
    # Single pass over the shingle array: each hash expands to its 60
    # ±1 bit-votes once, and ONE fold accumulates the 60-element vote
    # vector (the previous shape ran 60 separate aggregate folds — 60
    # interpreted traversals of the array per row).  Built as one parsed
    # SQL string: the equivalent Column-API tree costs thousands of py4j
    # round-trips of driver time.
    bit_votes = "transform(__hs, h -> array(" + ", ".join(
        f"IF((shiftright(h, {bit}) & 1) = 1, 1L, -1L)" for bit in range(60)
    ) + "))"
    votes = (
        f"aggregate({bit_votes}, array_repeat(0L, 60), "
        "(acc, ba) -> zip_with(acc, ba, (a, b) -> a + b))"
    )
    weights = "array(" + ", ".join(f"{1 << bit}L" for bit in range(60)) + ")"
    simhash = (
        f"aggregate(zip_with({votes}, {weights}, (v, w) -> IF(v > 0, w, 0L)), "
        "0L, (acc, w) -> acc + w)"
    )
    return sh.select(F.col(id_col), F.expr(simhash).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming.

    Pigeonhole banding: split 60 bits into (max_hamming+1) blocks; any
    pair within distance ≤ max_hamming agrees exactly on ≥1 block, so an
    equi-join per block finds all candidates; verify with
    ``bit_count(xor)``.  Same O(docs × blocks) shuffle shape as LSH.
    """
    blocks = max_hamming + 1
    width = 60 // blocks
    # LAZY checkpoint: both self-join legs below read the signature
    # table, and alias-renamed legs never get exchange reuse (different
    # expression IDs), so without this the per-doc shingle+bit-vote fold
    # runs TWICE.  The checkpoint stores the tiny (id, long) table once;
    # the first leg's stage materializes it, the second reads the blocks.
    sigs = simhash_signatures(df, text_col, id_col, k).localCheckpoint(eager=False)
    block_rows = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("b"),
    ).select(F.col(id_col), "simhash", F.col("b.blk"), F.col("b.bv"))

    left = block_rows.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sa"), "blk", "bv")
    right = block_rows.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sb"), "blk", "bv")
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        left.join(right, ["blk", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact cosine-threshold pairs (id_a < id_b, cosine ≥ threshold).

    Brute-force O(n²) — correct baseline and the verification stage for
    ANN candidates.  At scale, feed candidates from
    ``operators.similarity.lsh_ann_candidates`` instead of the cross
    join.
    """
    from ..functions.vectors import dot, l2_norm

    # norms once per row (O(n)), not per pair (O(n²) × 2 extra folds);
    # the cosine is the identical dot/(|a|·|b|) expression with the
    # identical zero guard — bit-identical values
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    denom = F.col("__na") * F.col("__nb")
    sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot(F.col("va"), F.col("vb")) / denom
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def embedding_lsh_pairs(
    df: DataFrame,
    dims: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    tables: int = 12,
    planes_per_table: int = 4,
    seed: int = 42,
    parallelism: "int | None" = None,
) -> DataFrame:
    """Embedding near-dup pairs via multi-table hyperplane LSH + exact verify.

    The scale path for :func:`embedding_neardup_pairs`: ``tables``
    independent random-hyperplane hash tables (``planes_per_table`` sign
    bits each, deterministic LCG planes shared with
    ``operators.similarity``) bucket each vector; within-bucket pairs are
    expanded by a groupBy — shuffle O(rows × tables), NEVER an all-pairs
    cross join — then verified with exact cosine ≥ ``threshold``.

    Semantics: **candidates ∩ {cosine ≥ threshold}** — a pair whose
    vectors agree on no table's full sign pattern is never considered
    (recall 1-(1-p^r)^b with p = 1 - θ/π).  Raw projections (not
    normalized) decide the sign bits: the sign is normalization-invariant
    and both engines of the differential oracle evaluate the identical
    plane literals.

    ``parallelism``: optional round-robin repartition of the (tiny-file)
    input before the CPU-heavy projection/verify stages.  Leave ``None``
    at scale — a large corpus scan already has thousands of splits and
    the extra Exchange would be pure cost; set it when the input is a
    handful of small files that Spark reads as one partition.
    """
    from ..functions.vectors import dot as _dot
    from ..functions.vectors import l2_normalize as _l2n
    from .similarity import _pseudo_planes

    v = df.select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
    if parallelism:
        v = v.repartition(parallelism)
    # The plane matrix is one constant-folded array<array<double>> literal
    # used inside higher-order functions: Catalyst folds it to a single
    # Literal and the HOFs evaluate interpreted, so whole-stage codegen
    # never compiles a (tables × planes × dims)-literal method (measured:
    # the unrolled form cost ~10 s of janino time on first execution).
    from .similarity import _array_lit_sql

    planes_flat = []
    for t in range(tables):
        planes_flat.extend(_pseudo_planes(planes_per_table, dims, seed + t))
    planes_sql = "array(" + ", ".join(_array_lit_sql(p) for p in planes_flat) + ")"
    bkt_sql = (
        f"transform(sequence(0, {tables - 1}), t -> named_struct("
        "'t', CAST(t AS INT), "
        f"'bkt', aggregate(sequence(0, {planes_per_table - 1}), 0L, (acc, i) -> acc + "
        f"IF(aggregate(zip_with(__v, element_at({planes_sql}, "
        f"CAST(t * {planes_per_table} + i + 1 AS INT)), (x, y) -> x * y), 0.0D, "
        "(a, p) -> a + p) >= 0, shiftleft(1L, CAST(i AS INT)), 0L))))"
    )
    # LAZY checkpoint: the bucket-id table feeds BOTH legs of the
    # candidate self-join below, and alias-renamed legs never share an
    # exchange — without this the (tables × planes × dims) projection
    # fold runs twice.  The stored table is (id, t, bkt) — ~20 bytes/row
    # × ``tables`` per vector, a small fraction of the input vectors
    # themselves, so retaining it briefly is far cheaper than a second
    # pass over the fold.
    rows = (
        v.select("__id", F.explode(F.expr(bkt_sql)).alias("b"))
        .select("__id", F.col("b.t").alias("t"), F.col("b.bkt").alias("bkt"))
        .localCheckpoint(eager=False)
    )

    # within-bucket pair expansion by equi-self-join on the bucket key.
    # Hyperplane buckets are COARSE (2^planes_per_table patterns per
    # table), so unlike the MinHash band case the per-bucket id lists are
    # corpus-fraction-sized: a collect_list + interpreted nested-HOF
    # expansion builds the whole |bucket|² struct array in one task's
    # memory (measured 3-4× slower at sf0.1), while the codegen'd join
    # streams the same pairs AND stays AQE-skew-splittable when one
    # bucket runs hot at scale (guide §2.5 — skew handling applies to
    # joins, not to grouped HOFs).
    ca = rows.select("t", "bkt", F.col("__id").alias("id_a"))
    cb = rows.select("t", "bkt", F.col("__id").alias("id_b"))
    candidates = (
        ca.join(cb, ["t", "bkt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # exact-cosine verify restricted to candidates.  Vectors are
    # L2-normalized ONCE per row (O(corpus)) so the per-pair work is a
    # single dot fold, not dot + two norms (O(candidates) × 3).
    # Broadcasting the candidate pairs into the first corpus join keeps
    # the corpus unshuffled; the second join's left side is
    # candidate-sized, so AQE picks broadcast vs shuffle at runtime.
    va = df.select(F.col(id_col).alias("id_a"), _l2n(vec_col).alias("__ua"))
    vb = df.select(F.col(id_col).alias("id_b"), _l2n(vec_col).alias("__ub"))
    if parallelism:
        va = va.repartition(parallelism)
    return (
        va.join(F.broadcast(candidates), "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", _dot(F.col("__ua"), F.col("__ub")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def cross_corpus_overlap(
    corpus: DataFrame,
    probe: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: distinct k-shingle overlap between
    every training (``corpus``) and eval (``probe``) document.

    Output ``(train_id, eval_id, shared_ngrams, overlap_frac)`` for
    pairs sharing ≥ ``min_shared`` shingles; ``overlap_frac`` is the
    shared count over the EVAL doc's shingle count (the contamination
    convention — "how much of the benchmark item appears in training").

    Scale shape: same inverted-index equi-join as
    :func:`ngram_jaccard_pairs`, but CROSS-corpus, and the probe side
    (benchmark suites are thousands of items, not billions) is
    broadcast — the 100 TB training side is never shuffled,
    the check is one scan + map-side hash join + one groupBy keyed by
    (train, eval) pair.
    """
    a = _exploded_shingles(corpus, text_col, id_col, k).select(
        F.col("__id").alias("train_id"), F.col("__h").alias("__h")
    )
    b = _exploded_shingles(probe, text_col, id_col, k).select(
        F.col("__id").alias("eval_id"), F.col("__n").alias("ne"), F.col("__h").alias("__h")
    )
    return (
        a.join(F.broadcast(b), "__h")
        .groupBy("train_id", "eval_id", "ne")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= min_shared)
        .select(
            "train_id",
            "eval_id",
            "shared_ngrams",
            F.round(F.col("shared_ngrams") / F.col("ne"), 6).alias("overlap_frac"),
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard pairs ≥ threshold via prefix filtering (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al.
    ICDE'08) — same answer as :func:`ngram_jaccard_pairs`, different
    scale shape.

    Why: the plain inverted-index join materializes Σ_h df(h)² pair
    rows — the few very-common shingles dominate and blow up the
    self-join at corpus scale.  Prefix filtering sorts each document's
    shingles by ascending global document frequency and keeps only the
    first ``n - ceil(t·n) + 1`` (the "prefix"): two docs can reach
    Jaccard ≥ t only if their prefixes intersect, so candidates come
    from a self-join over the RARE end of the frequency spectrum, and
    a ``t·|A| ≤ |B| ≤ |A|/t`` length filter prunes further.

    Overlap bound: a pair whose prefixes share ``c`` shingles stays a
    candidate only if ``c + max(ceil(t·na), ceil(t·nb)) - 1 ≥
    t·(na+nb)/(1+t)``.  Exact: in the rarest-first order, take the set
    whose last prefix shingle ranks lower; every shared shingle ranked
    at or below it lies in both prefixes (counted by ``c``), and every
    other one lies in that set's suffix, which holds ``ceil(t·n) - 1``
    shingles — so the overlap is at most the left side, while Jaccard ≥
    t needs an overlap ≥ t·(na+nb)/(1+t).  It drops most pairs that
    meet on one rare shingle and little else; ``c`` is counted by the
    aggregate that collapses the join rows to pairs, so it adds no
    exchange.
    Every integer bound derived from t is computed on the safe side
    (:func:`_ceil_t`), so float rounding never drops a boundary pair.

    Plan: one global document-frequency aggregate, then ONE per-document
    table ``(__id, __n, __hs)`` (:func:`_shingle_sets`) that serves both
    stages — the prefix is a ``slice`` of the sorted set, and each
    candidate pair is verified by joining both documents' sets onto it
    and counting ``size(array_intersect(ha, hb))``
    (:func:`_shared_shingles`) — two id-keyed joins over O(candidates)
    rows.  The quadratic join term is Σ pf(h)² where pf counts only prefix
    occurrences, never the plain index's Σ df(h)².
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    _, sets = _checkpointed_sets(df, text_col, id_col, k)
    return _jaccard_rows(
        _shared_shingles(_jaccard_prefix_candidates(sets, threshold), sets), threshold
    )


def _checkpointed_sets(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> "tuple[DataFrame, DataFrame]":
    """The exploded shingles and their :func:`_shingle_sets` table, each
    built once: the exploded frame is checkpointed lazily (its two reads,
    the frequency aggregate and the set build, run in the one job that
    builds the sets) and the sets eagerly (they feed the prefix join and
    both verify legs).  A persisted frame would instead run one
    cache-building job per reference that AQE plans before the cache
    exists."""
    e = _exploded_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    return e, _shingle_sets(e).localCheckpoint(eager=True)


def _shingle_sets(e: DataFrame) -> DataFrame:
    """One row per document, ``(__id, __n, __hs)``: its shingle hashes in
    rarest-first order (ascending global document frequency, hash
    tie-break for a total deterministic order) — the AllPairs/PPJoin
    order every prefix is cut from.  Corpus-stopword shingles sort LAST
    in every document, so they only reach a prefix when a document
    consists of almost nothing else.  ``__n`` is the set size."""
    freq = e.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    return (
        e.join(freq, "__h")
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__h"))).alias("__s"))
        .select("__id", F.size("__s").alias("__n"), F.col("__s.__h").alias("__hs"))
    )


# slack for the integer bounds derived from a float threshold: t·n is
# computed in doubles (0.55·100 = 55.00000000000001), so each bound is
# rounded toward keeping the pair
_EPS = 1e-9


def _ceil_t(threshold: float, n: Column) -> Column:
    """``ceil(t·n)`` on the safe side: never one above the true value."""
    return F.ceil(threshold * n - _EPS)


def _prefix_rows(sets: DataFrame, threshold: float) -> DataFrame:
    """``(__id, __n, __h)`` for each document's rarest
    ``n - ceil(t·n) + 1`` shingles, read off :func:`_shingle_sets`."""
    plen = (F.col("__n") - _ceil_t(threshold, F.col("__n")) + 1).cast("int")
    return sets.select("__id", "__n", F.explode(F.slice("__hs", 1, plen)).alias("__h"))


def _jaccard_prefix_candidates(sets: DataFrame, threshold: float) -> DataFrame:
    """Candidate (id_a, id_b) pairs whose prefixes intersect, whose sizes
    satisfy the Jaccard length filter, and whose prefix overlap ``c``
    passes the overlap bound ``c + max(ceil(t·na), ceil(t·nb)) - 1 ≥
    t·(na+nb)/(1+t)`` — a superset of all pairs with Jaccard ≥
    threshold (see :func:`jaccard_prefix_pairs` for why the bound is
    exact), with join volume Σ_h pf(h)² (prefix occurrences only),
    never the plain index's Σ_h df(h)².  ``sets`` is the
    :func:`_shingle_sets` table."""
    prefix = _prefix_rows(sets, threshold)
    pa = prefix.select(
        F.col("__id").alias("id_a"), F.col("__n").alias("na"), "__h"
    )
    pb = prefix.select(
        F.col("__id").alias("id_b"), F.col("__n").alias("nb"), "__h"
    )
    na, nb = F.col("na"), F.col("nb")
    suffix = F.greatest(_ceil_t(threshold, na), _ceil_t(threshold, nb)) - 1
    return (
        pa.join(pb, "__h")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: jaccard >= t forces t*na <= nb <= na/t
            & (nb >= _ceil_t(threshold, na))
            & (nb <= F.floor(na / threshold + _EPS))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") + suffix >= threshold * (na + nb) / (1 + threshold) - _EPS)
        .select("id_a", "id_b")
    )


def incremental_minhash_pairs(
    df: DataFrame,
    is_new_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Continuous-crawl near-dup: MinHash-LSH pairs restricted to pairs
    TOUCHING the new batch (``is_new_col`` boolean).

    A daily dedup run doesn't need yesterday's corpus re-verified
    against itself — those pairs are already known.  Candidates are
    generated over the full corpus (band buckets must mix old and new
    to catch cross-batch dups; signatures are deterministic, so the old
    side's bands can equally come from a persisted band table), then
    old×old pairs are dropped BEFORE exact-Jaccard verification — the
    expensive stage runs on O(new-touching candidates) only.

    Output: ``id_a, id_b, jaccard`` where at least one side is new —
    exactly the base pipeline's result minus the old×old block
    (differentially tested against that identity).
    """
    e = _exploded_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    cand = _band_candidates(_minhash_mins(e, num_hashes, seed), num_hashes, bands)
    flags = df.select(F.col(id_col).alias("__fid"), F.col(is_new_col).alias("__new"))
    fa = flags.withColumnRenamed("__fid", "__fa").withColumnRenamed("__new", "__na")
    fb = flags.withColumnRenamed("__fid", "__fb").withColumnRenamed("__new", "__nb")
    touching = (
        cand.join(fa, F.col("id_a") == F.col("__fa"))
        .join(fb, F.col("id_b") == F.col("__fb"))
        .where(F.col("__na") | F.col("__nb"))
        .select("id_a", "id_b")
    )
    return _jaccard_rows(_shared_shingles(touching, _unordered_sets(e)), threshold)


def bbit_minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 30,
    bands: int = 6,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """b-bit MinHash near-dup pairs (b = 2; Li & König 2010).

    Keeps only the LOWEST 2 BITS of each of 30 permutation minima, so a
    whole signature packs into ONE 60-bit integer — an 8x memory cut vs
    the 8-byte-per-min full signature, which at corpus scale is the
    difference between signatures living in memory or spilling.  The
    price is collision noise: two b-bit values agree by chance with
    probability 1/4, so the banded candidate stage admits more false
    positives (verified away by exact Jaccard, same as the full
    pipeline) and the similarity estimate needs the Li-König bias
    correction s_hat = (agree_frac - 1/4) / (3/4).  Output pairs carry
    BOTH the corrected b-bit estimate and the exact Jaccard, so the
    compression error is auditable per pair.  Scale: identical plan
    shape to minhash_lsh_pairs — O(docs x bands) band shuffle, verify
    confined to candidates.
    """
    e = _exploded_shingles(df, text_col, id_col, k).localCheckpoint(eager=False)
    # b-bit keeps the low bits OF THE MINIMUM, so the min is taken over
    # the full permuted values: `min(p) % 4`, never `min(p % 4)`.
    # three consumers (band explode + both sides of the estimate join)
    # and no exchange reuse across alias-renamed legs: checkpoint so the
    # 30-permutation min-aggregation over the exploded shingles runs
    # once, not three times (lazily: all three read it in one query)
    sigs = (
        _minhash_mins(e, num_hashes, seed)
        .select("__id", *[(F.col(f"__m{i}") % 4).alias(f"__m{i}") for i in range(num_hashes)])
        .localCheckpoint(eager=False)
    )
    cand = _band_candidates(sigs, num_hashes, bands)
    # exact Jaccard first, so the b-bit estimate is only computed for the
    # pairs that are returned
    exact = _jaccard_rows(_shared_shingles(cand, _unordered_sets(e)), threshold)
    # b-bit agreement fraction -> bias-corrected estimate
    sa = sigs.select(
        F.col("__id").alias("id_a"), *[F.col(f"__m{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sb = sigs.select(
        F.col("__id").alias("id_b"), *[F.col(f"__m{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    est = F.greatest(
        F.lit(0.0),
        (agree.cast("double") / num_hashes - 0.25) / 0.75,
    )
    return (
        exact.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("bbit_estimate"), "jaccard")
    )


# ------------------------------------------------------------- winnowing
def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS local fingerprinting algorithm).  Output: one row per
    (``id_col``, distinct ``fingerprint``).

    Per document: normalize whitespace + lowercase, hash every char
    k-gram with the engine-portable md5 hash, then keep the MINIMUM hash
    of each sliding window of ``w`` consecutive k-gram hashes.  The
    guarantee: any shared substring of length ≥ k + w − 1 yields at
    least one shared fingerprint, while the selected set is ~2/(w+1) of
    all k-grams — position-robust plagiarism/contamination detection at
    a fraction of the shingle count.  Documents with fewer than w
    windows but at least one k-gram still emit ≥1 fingerprint (the min
    over their full hash list); documents shorter than k chars emit none.

    All array work is per-row Catalyst (no explode until the final
    unnest of the DISTINCT fingerprint set), so the wide stage cost is
    O(selected fingerprints), not O(k-grams).  A lazy ``localCheckpoint``
    sits between the array computation and the explode: fused into one
    codegen stage, Generate re-evaluates the md5-per-k-gram array
    expression per OUTPUT row (measured 55× slower at 500 docs); the
    checkpoint boundary materializes each document's fingerprint array
    exactly once without forcing computation at operator-build time.
    """
    from ..functions.text import normalize_whitespace

    # the md5-per-k-gram map is CPU-bound: when the input arrives
    # narrower than the cluster (a single local file = 1 partition),
    # widen it first — one tiny shuffle of raw text buys full-core
    # hashing (measured 3x at 5k docs).  At scale the input already has
    # >= defaultParallelism partitions and this is a no-op.
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)

    t = F.lower(normalize_whitespace(text_col))
    n = F.length(t)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: portable_hash64(F.substring(t, i, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    m = F.size(F.col("__h"))
    mins = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(m - F.lit(w - 1), F.lit(1))),
            lambda j: F.array_min(F.slice(F.col("__h"), j, w)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return (
        df.select(id_col, grams.alias("__h"))
        .select(id_col, F.array_distinct(mins).alias("__fps"))
        .localCheckpoint(eager=False)
        .select(id_col, F.explode("__fps").alias("fingerprint"))
    )


def winnowing_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_df: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints.
    Output: (id_a, id_b, shared, jaccard) with id_a < id_b, where
    ``jaccard`` is over the RETAINED fingerprint sets.

    Scale shape (the same inverted-index discipline as
    :func:`minhash_lsh_pairs`): fingerprints occurring in more than
    ``max_df`` documents are dropped BEFORE the self-join — a
    boilerplate k-gram shared by 10⁶ documents would otherwise put 10¹²
    rows behind one join key; dropping it costs only ubiquitous-snippet
    evidence (it identifies no specific pair).  The cap is part of the
    operator contract: per-document set sizes and the Jaccard are
    computed over the post-cap sets, so results are deterministic and
    SQL-twin-checkable, and candidate volume is bounded by
    Σ_fp df(fp)² ≤ max_df · Σ_fp df(fp).
    """
    # the md5-per-k-gram fingerprint pass is the expensive subtree and
    # feeds the df-cap aggregate, the size aggregate AND both legs of the
    # self-join — checkpoint it (and the capped set) lazily so it runs
    # ONCE inside the one query below, the same discipline as
    # minhash_lsh_pairs
    fps = winnowing_fingerprints(df, text_col, id_col, k, w).localCheckpoint(eager=False)
    rare = fps.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("__df")).where(
        F.col("__df") <= max_df
    )
    kept = fps.join(rare.select("fingerprint"), "fingerprint").localCheckpoint(eager=False)
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    e = kept.join(sizes, id_col).select(
        F.col(id_col).alias("__id"), "__n", F.col("fingerprint").alias("__h")
    )
    shared = _shingle_census(e).filter(F.col("shared") >= min_shared)
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return shared.select("id_a", "id_b", "shared", F.round(jac, 6).alias("jaccard"))
