"""Unit tests for the training-pipeline operators: connected components,
sequence packing, cross-corpus contamination, PII redaction, HLL merge."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# ------------------------------------------------------------------ graph
def _cc(spark, edges):
    from spark_fuse_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }


def test_cc_chain_collapses_to_min(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)}


def test_cc_multiple_components_and_cycles(spark):
    got = _cc(spark, [(10, 11), (11, 12), (10, 12), (20, 21), (2, 1)])
    assert got == {
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
        (1, 1), (2, 1),
    }


def test_cc_reversed_and_duplicate_edges(spark):
    got = _cc(spark, [(5, 3), (3, 5), (3, 1), (5, 1), (5, 3)])
    assert got == {(1, 1), (3, 1), (5, 1)}


def test_cc_long_chain_converges_within_log_rounds(spark):
    # 33-node path: naive min-propagation needs 32 rounds; star-contraction
    # must finish inside the default max_iterations=20 (O(log n))
    edges = [(i, i + 1) for i in range(100, 132)]
    got = _cc(spark, edges)
    assert got == {(i, 100) for i in range(100, 133)}


def test_dedup_clusters_labels_singletons_and_keepers(spark):
    from spark_fuse_spark.operators.graph import dedup_clusters

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 9]], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    rows = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
    assert rows[1].cluster_id == 1 and rows[1].is_canonical
    assert rows[2].cluster_id == 1 and not rows[2].is_canonical
    assert rows[3].cluster_size == 3
    assert rows[7].cluster_id == 7 and rows[7].cluster_size == 1 and rows[7].is_canonical
    # dedup = filter(is_canonical) keeps exactly one doc per cluster
    keep = [d for d, r in rows.items() if r.is_canonical]
    assert sorted(keep) == [1, 7, 9]


def test_cc_empty_pairs(spark):
    from spark_fuse_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


# ---------------------------------------------------------------- packing
def test_prefix_sum_matches_global_window(spark):
    from spark_fuse_spark.operators.packing import with_prefix_sum

    df = spark.range(0, 2000).withColumn("v", (F.col("id") * 7919) % 300 + 1)
    got = with_prefix_sum(df, "id", "v", out_col="ps", num_partitions=7)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    ref = df.withColumn("ps", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long"))
    assert got.select("id", "ps").exceptAll(ref.select("id", "ps")).count() == 0
    assert set(got.columns) == {"id", "v", "ps"}  # no helper-column leaks


def test_prefix_sums_multi_column_matches_global_window(spark):
    from spark_fuse_spark.operators.packing import with_prefix_sums

    df = (
        spark.range(0, 2000)
        .withColumn("v1", (F.col("id") * 7919) % 300 + 1)
        .withColumn("v2", (F.col("id") * 104729) % 17)
    )
    got = with_prefix_sums(df, "id", {"v1": "p1", "v2": "p2"}, num_partitions=7)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    ref = df.withColumn(
        "p1", F.coalesce(F.sum("v1").over(w), F.lit(0)).cast("long")
    ).withColumn("p2", F.coalesce(F.sum("v2").over(w), F.lit(0)).cast("long"))
    assert (
        got.select("id", "p1", "p2")
        .exceptAll(ref.select("id", "p1", "p2"))
        .count()
        == 0
    )
    assert set(got.columns) == {"id", "v1", "v2", "p1", "p2"}


def test_prefix_sum_correct_on_hash_aggregate_input(spark):
    """Regression: the prefix input used to feed the range exchange into
    TWO plan branches (local window + per-partition totals).  A hash
    aggregate's output row order is not deterministic across
    recomputations, so repartitionByRange's SAMPLED boundaries could
    differ per branch — offsets keyed by one partition assignment joined
    rows labeled by the other, silently shorting cumulative sums (caught
    by q_mann_whitney's rank sums drifting ~0.5% from the brute force).
    The pid assignment is now localCheckpointed once; this pins the
    trigger shape: a groupBy-derived frame."""
    from spark_fuse_spark.operators.packing import with_prefix_sum

    base = spark.range(0, 20000).select(
        ((F.col("id") * 2654435761) % 4999).alias("k")
    )
    cells = base.groupBy("k").agg(F.count("*").alias("c"))
    got = with_prefix_sum(cells, "k", "c", out_col="ps", num_partitions=13)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    ref = cells.withColumn("ps", F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long"))
    assert got.select("k", "ps").exceptAll(ref.select("k", "ps")).count() == 0


def test_prefix_max_matches_global_window(spark):
    from spark_fuse_spark.operators.packing import with_prefix_max

    # non-monotone values so the running max actually changes hands, plus
    # a value that never beats the running max (exercises the greatest())
    df = spark.range(0, 2000).withColumn("v", (F.col("id") * 104729) % 500)
    got = with_prefix_max(df, "id", "v", out_col="pm", num_partitions=7)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    ref = df.withColumn("pm", F.max("v").over(w))
    assert (
        got.select("id", "pm")
        .join(ref.select("id", F.col("pm").alias("want")), "id")
        .where(~F.col("pm").eqNullSafe(F.col("want")))
        .count()
        == 0
    )
    # exclusive frame: the first row's prefix max is NULL
    assert got.orderBy("id").first().pm is None
    assert set(got.columns) == {"id", "v", "pm"}  # no helper-column leaks


def test_pack_sequences_straddles_budget_boundary(spark):
    from spark_fuse_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 500), (4, 10)], "doc_id long, tok long"
    )
    rows = {
        r.doc_id: r
        for r in pack_sequences(df, "doc_id", "tok", budget=512).collect()
    }
    assert (rows[1].start_offset, rows[1].seq_first, rows[1].seq_last) == (0, 0, 0)
    # doc 2 spans tokens 300..599 → windows 0 and 1
    assert (rows[2].seq_first, rows[2].seq_last, rows[2].n_seqs) == (0, 1, 2)
    # doc 3 spans 600..1099 → windows 1 and 2
    assert (rows[3].seq_first, rows[3].seq_last) == (1, 2)
    assert rows[4].n_seqs == 1


def test_pack_sequences_zero_budget_rejected(spark):
    from spark_fuse_spark.operators.packing import pack_sequences

    df = spark.createDataFrame([(1, 5)], "doc_id long, tok long")
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "tok", budget=0)


# ---------------------------------------------------- contamination check
def test_cross_corpus_overlap_counts_shared_shingles(spark):
    from spark_fuse_spark.operators.dedup import cross_corpus_overlap

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about something else entirely here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog now")],
        "doc_id long, text string",
    )
    rows = cross_corpus_overlap(train, ev, k=3, min_shared=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.train_id, r.eval_id) == (1, 100)
    # eval doc: 10 tokens → 8 distinct 3-shingles; 7 shared with train doc 1
    assert r.shared_ngrams == 7
    assert r.overlap_frac == pytest.approx(7 / 8, abs=1e-6)


# -------------------------------------------------------------------- PII
def test_pii_redact_and_count(spark):
    from spark_fuse_spark.functions.text import pii_count, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e-f.org, host 10.0.0.1, ssn 123-45-6789"),
            (2, "no pii here at all"),
        ],
        "id long, text string",
    )
    out = {
        r.id: r
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            pii_count("text", "email").alias("ne"),
            pii_count("text", "ipv4").alias("ni"),
            pii_count("text", "ssn").alias("ns"),
        ).collect()
    }
    assert out[1].red == "mail <EMAIL> and <EMAIL>, host <IP>, ssn <SSN>"
    assert (out[1].ne, out[1].ni, out[1].ns) == (2, 1, 1)
    assert out[2].red == "no pii here at all"
    assert (out[2].ne, out[2].ni, out[2].ns) == (0, 0, 0)


# -------------------------------------------------------------------- HLL
def test_hll_union_of_partials_equals_direct_sketch(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 10).alias("g"),
        (F.col("id") % 1337).alias("u"),
        (F.col("id") % 4).alias("part"),
    )
    direct = df.groupBy("g").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("est")
    )
    merged = (
        df.groupBy("g", "part")
        .agg(F.hll_sketch_agg("u").alias("sk"))
        .groupBy("g")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    d = {r.g: r.est for r in direct.collect()}
    m = {r.g: r.est for r in merged.collect()}
    assert set(d) == set(m)
    # union is mergeable but not bit-identical (sparse→dense promotion);
    # estimates must agree within HLL's error bound at lgK=12 (~1.6%)
    for g in d:
        assert abs(d[g] - m[g]) <= max(0.03 * d[g], 2.0)
        # and both are near the true cardinality (min(1337, group size))
        assert abs(d[g] - 500) <= 0.05 * 500


# --------------------------------------------------- CC property testing
def _union_find_components(edges):
    """Reference labeling: classic union-find, min id as root label."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so the root IS the minimum id
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_on_random_graphs(spark):
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    from spark_fuse_spark.operators.graph import connected_components

    node = st.integers(min_value=0, max_value=60)
    edges_strategy = st.lists(
        st.tuples(node, node).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=40,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(edges=edges_strategy)
    # disjoint cliques: the dedup shape (small, dense components)
    @example(
        edges=[(a, b) for c in (0, 10, 20) for a in range(c, c + 4) for b in range(a + 1, c + 4)]
    )
    # already a star forest rooted at each component's minimum
    @example(edges=[(2, 1), (3, 1), (4, 1), (11, 10), (12, 10)])
    # a star whose centre is not its minimum
    @example(edges=[(5, 1), (5, 2), (5, 3)])
    def run(edges):
        expected = _union_find_components(edges)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            (r.node, r.component) for r in connected_components(pairs).collect()
        }
        assert got == set(expected.items())

    run()


# ------------------------------------------------------- prefix filtering
def test_jaccard_prefix_identical_to_plain_inverted_index(spark, sf_small):
    from spark_fuse_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )
    from spark_fuse_spark.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    for t in (0.3, 0.5, 0.8):
        plain = ngram_jaccard_pairs(docs, k=3, threshold=t, prefix_filter=False)
        pp = jaccard_prefix_pairs(docs, k=3, threshold=t)
        assert plain.exceptAll(pp).union(pp.exceptAll(plain)).count() == 0


def _random_corpus(seed: int) -> "list[tuple[int, str]]":
    """Documents over a 15-word vocabulary: random base texts plus
    truncated, extended and word-substituted copies of each, so pairs
    land on and near exact Jaccard ratios (55/100-style boundaries) as
    well as on chance overlaps."""
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(15)]
    texts = []
    for _ in range(14):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 45))]
        texts.append(words)
        for _ in range(rng.randint(1, 4)):
            op = rng.random()
            if op < 0.35:
                copy = words[: rng.randint(1, len(words))]
            elif op < 0.7:
                copy = words + [rng.choice(vocab) for _ in range(rng.randint(1, 20))]
            else:
                copy = [rng.choice(vocab) if rng.random() < 0.15 else w for w in words]
            texts.append(copy)
    return [(i, " ".join(words)) for i, words in enumerate(texts)]


@pytest.mark.parametrize("seed", [11, 12])
def test_jaccard_prefix_equals_plain_index_on_random_corpora(spark, seed):
    """Differential: the prefix plan (prefix intersect, length filter,
    overlap bound) returns exactly the plain inverted index's pairs."""
    from spark_fuse_spark.operators.dedup import jaccard_prefix_pairs, ngram_jaccard_pairs

    docs = spark.createDataFrame(_random_corpus(seed), "doc_id long, text string").cache()
    for t in (1 / 3, 0.5, 0.55, 0.7, 0.8, 1.0):
        plain = {tuple(r) for r in ngram_jaccard_pairs(docs, threshold=t, prefix_filter=False).collect()}
        pp = {tuple(r) for r in jaccard_prefix_pairs(docs, threshold=t).collect()}
        assert pp == plain, (t, sorted(plain ^ pp))
        assert plain, t  # the corpus has pairs at every threshold
    docs.unpersist()


def _nested_docs(spark, outer_extra: int):
    """Doc 1's 57 words make 55 3-shingles; doc 2 is doc 1 followed by
    ``outer_extra`` new words, so doc 1's shingles are a subset of doc
    2's ``55 + outer_extra``."""
    inner = [f"a{i}" for i in range(57)]
    outer = inner + [f"b{i}" for i in range(outer_extra)]
    return spark.createDataFrame(
        [(1, " ".join(inner)), (2, " ".join(outer))], "doc_id long, text string"
    )


def test_jaccard_prefix_keeps_float_boundary_pair(spark):
    """A 100-shingle set holding a 55-shingle set has Jaccard exactly
    0.55, but 0.55·100 = 55.00000000000001 in doubles: a ceil/floor of
    the raw product shortened the prefix and tightened the length filter
    past the pair.  Integer bounds derived from t round toward keeping
    the pair."""
    from spark_fuse_spark.operators.dedup import (
        _jaccard_prefix_candidates,
        jaccard_prefix_pairs,
    )

    # hand-built rarest-first sets: the 55 shared hashes, then doc 2's 45
    sets = spark.createDataFrame(
        [(1, 55, list(range(55))), (2, 100, list(range(100)))],
        "__id long, __n int, __hs array<long>",
    )
    assert [tuple(r) for r in _jaccard_prefix_candidates(sets, 0.55).collect()] == [(1, 2)]
    got = [tuple(r) for r in jaccard_prefix_pairs(_nested_docs(spark, 45), threshold=0.55).collect()]
    assert got == [(1, 2, 0.55)]


def test_containment_prefix_keeps_float_boundary_pair(spark):
    """Containment 55/100 = 0.55 with the 55 shared shingles ranked last
    in the smaller document: its prefix is the 46 rarest shingles only
    when ceil(0.55·100) is taken as 55, not 56."""
    from spark_fuse_spark.operators.dedup import containment_pairs

    shared = [f"c{i}" for i in range(57)]  # 55 shingles, in both documents
    small = [f"u{i}" for i in range(45)] + shared  # + 45 of its own: 100
    large = shared + [f"v{i}" for i in range(60)]  # + 60 of its own: 115
    docs = spark.createDataFrame(
        [(1, " ".join(small)), (2, " ".join(large))], "doc_id long, text string"
    )
    got = [tuple(r) for r in containment_pairs(docs, threshold=0.55).collect()]
    assert got == [(1, 2, 0.55)]


def test_jaccard_prefix_rejects_bad_threshold(spark):
    from spark_fuse_spark.operators.dedup import jaccard_prefix_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        jaccard_prefix_pairs(df, threshold=0.0)


# -------------------------------------------------------------- sentiment
def test_sentiment_score_direction_and_bounds(spark):
    from spark_fuse_spark.functions.text import sentiment_score

    df = spark.createDataFrame(
        [
            (1, "this is a great wonderful amazing thing i love"),
            (2, "terrible awful horrible broken mess"),
            (3, "good but also bad"),
            (4, "neutral text with no polarity words"),
        ],
        "id long, text string",
    )
    out = {r.id: r.s for r in df.select("id", sentiment_score("text").alias("s")).collect()}
    assert out[1] == 1.0
    assert out[2] == -1.0
    assert out[3] == 0.0  # one good, one bad
    assert out[4] == 0.0  # no hits


# ------------------------------------------------------------ mix resample
def test_resample_weighted_multiplicities(spark):
    from spark_fuse_spark.operators.sampling import resample_weighted

    df = spark.range(0, 4000).select(
        F.col("id"),
        F.when(F.col("id") % 4 == 0, F.lit(2.0))     # exact 2x
        .when(F.col("id") % 4 == 1, F.lit(0.0))      # dropped
        .when(F.col("id") % 4 == 2, F.lit(1.0))      # kept once
        .otherwise(F.lit(0.5))                        # ~half kept
        .alias("rate"),
    )
    out = resample_weighted(df, "id", "rate").cache()
    per_id = {r.id: r.n for r in out.groupBy("id").agg(F.count("*").alias("n")).collect()}
    # integer rates are exact per row
    assert all(per_id.get(i, 0) == 2 for i in range(0, 4000, 4))
    assert all(i not in per_id for i in range(1, 4000, 4))
    assert all(per_id.get(i, 0) == 1 for i in range(2, 4000, 4))
    # fractional rate: deterministic, and close to expectation in aggregate
    half_kept = sum(per_id.get(i, 0) for i in range(3, 4000, 4))
    assert 400 <= half_kept <= 600  # 1000 candidates at 0.5
    # copy ids number 1..n
    assert out.where(F.col("copy_id") < 1).count() == 0
    # deterministic: second run identical
    out2 = resample_weighted(df, "id", "rate")
    assert out.exceptAll(out2).count() == 0
    out.unpersist()


def test_weighted_sample_topk_props(spark):
    """A-ES invariants: k per stratum, deterministic reruns, zero/negative
    weights excluded, and heavier rows oversampled in aggregate."""
    from pyspark.sql import functions as F

    from spark_fuse_spark.operators.sampling import weighted_sample_topk

    rows = [(i, "s" if i % 2 else "t", 1000.0 if i < 40 else 1.0) for i in range(400)]
    rows += [(1000, "s", 0.0), (1001, "t", -5.0)]  # never sampled
    df = spark.createDataFrame(rows, ["id", "stratum", "w"])
    out = weighted_sample_topk(df, "id", "w", k=10, strata_cols=["stratum"])
    got = out.groupBy("stratum").count().collect()
    assert {r.stratum: r["count"] for r in got} == {"s": 10, "t": 10}
    ids = {r.id for r in out.select("id").collect()}
    assert 1000 not in ids and 1001 not in ids
    # heavy rows (ids < 40, weight 1000x) should dominate the sample
    heavy = sum(1 for i in ids if i < 40)
    assert heavy >= 14, f"expected heavy-weight dominance, got {heavy}/20"
    again = weighted_sample_topk(df, "id", "w", k=10, strata_cols=["stratum"])
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_kfold_assign_props(spark):
    from spark_fuse_spark.operators.sampling import kfold_assign

    df = spark.createDataFrame([(i,) for i in range(500)], ["id"])
    out = kfold_assign(df, "id", k=5)
    folds = out.groupBy("fold").count().collect()
    assert {r.fold for r in folds} == {0, 1, 2, 3, 4}
    # roughly balanced (hash uniformity): each fold within 60-140 of 100
    assert all(60 <= r["count"] <= 140 for r in folds)
    # stable rerun, and a different salt draws a different assignment
    a = {r.id: r.fold for r in out.collect()}
    b = {r.id: r.fold for r in kfold_assign(df, "id", k=5).collect()}
    c = {r.id: r.fold for r in kfold_assign(df, "id", k=5, salt="other").collect()}
    assert a == b and a != c
    import pytest as _pt
    with _pt.raises(ValueError):
        kfold_assign(df, "id", k=1)


def test_weighted_sample_global_path_is_take_ordered(spark):
    from spark_fuse_spark.operators.sampling import weighted_sample_topk

    df = spark.createDataFrame([(i, float(i % 7 + 1)) for i in range(200)], ["id", "w"])
    out = weighted_sample_topk(df, "id", "w", k=5)
    assert out.count() == 5
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_resample_weighted_floor_convention_non_dyadic_rates(spark):
    """The millionths gate FLOORs on both engines (Spark's bare BIGINT
    cast truncates, DuckDB's rounds — the divergence class the round-2
    advice flagged).  Non-dyadic rates like 1/3 and 2/3 are exactly the
    inputs where a round-vs-truncate mismatch flips gates; pin the
    operator against the documented SQL-twin formula replayed in DuckDB."""
    import duckdb

    from spark_fuse_spark.operators.sampling import resample_weighted

    df = spark.createDataFrame(
        [(i, [1 / 3, 2 / 3, 5 / 3][i % 3]) for i in range(300)], "doc_id long, rate double"
    )
    out = resample_weighted(df, "doc_id", "rate", salt="mix")
    got = {
        r.doc_id: r.n for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    want_rows = duckdb.sql(
        """
        WITH r AS (
          SELECT i AS doc_id,
                 CASE i % 3 WHEN 0 THEN 1.0/3.0 WHEN 1 THEN 2.0/3.0 ELSE 5.0/3.0 END AS rate,
                 CAST('0x' || substr(md5(CAST(i AS VARCHAR) || 'mix'), 1, 15) AS BIGINT) AS h
          FROM range(300) t(i))
        SELECT doc_id,
               CAST(floor(rate) AS INT)
                 + CASE WHEN (h % 1000000)
                             < CAST(FLOOR((rate - floor(rate)) * 1000000) AS BIGINT)
                        THEN 1 ELSE 0 END AS n
        FROM r
        """
    ).fetchall()
    want = {doc_id: n for doc_id, n in want_rows}
    # rows with n == 0 emit nothing from the explode
    assert got == {k: v for k, v in want.items() if v >= 1}


# -------------------------------------------------------------- portable HLL
def test_hll_portable_merge_is_bit_identical(spark, sf_small):
    """The portable HLL's per-day partials max-merged must equal the
    direct registers EXACTLY (max is associative) — the mergeability
    property the engine-specific DataSketches twin can only hold
    approximately."""
    from spark_fuse_spark.catalog import load_all

    rows = load_all()["x_hll_portable"].spark(spark, sf_small).collect()
    assert rows, "no event types"
    for r in rows:
        assert r.hll_direct == r.hll_merged, r
        assert r.exact_users > 0
