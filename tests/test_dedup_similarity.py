"""Dedup + similarity operator semantics tests: LSH candidate recall vs
exact baselines, simhash hamming guarantee, ANN recall, multimodal
plumbing — the self-consistency checks the SQL oracle can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_fuse_spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)
from spark_fuse_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_lsh_bucket,
    ivf_topk,
    train_ivf_centroids,
)
from spark_fuse_spark.tables import load_table


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base.replace("today", "tomorrow")),  # near dup
        (4, "completely different text about spark query engines and shuffles"),
        (5, "another unrelated document mentioning vectors and embeddings only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_groups(near_dup_docs):
    out = {r.doc_id: r.dup_count for r in dedup_exact(near_dup_docs).collect()}
    assert out[1] == 2  # docs 1+2 collapse, lowest id kept
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_jaccard_finds_near_dup(near_dup_docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(near_dup_docs, k=3, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_lsh_recall_vs_exact(spark, sf_small):
    """Every verified LSH pair must be an exact-jaccard pair; at these
    parameters (32 hashes / 8 bands, thr 0.5) recall on the testdata is
    complete — asserted exactly."""
    docs = load_table(spark, sf_small, "documents")
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(docs, k=3, num_hashes=32, bands=8, threshold=0.5).collect()}
    assert lsh <= exact
    assert lsh == exact  # full recall at s>=0.5 with b=8,r=4 on this corpus


def test_shared_shingles_drops_pairs_sharing_no_shingle(spark, near_dup_docs):
    """The one exact verify keeps a candidate pair only when its two
    documents share >= 1 shingle — the meaning of d_lsh_recall_audit's
    n_candidate_pairs and of its oracle.  (1, 4) and (4, 5) are
    candidates sharing no 3-shingle: they are dropped, never reported
    with shared = 0.  Both per-document set tables give the same counts."""
    from spark_fuse_spark.operators.dedup import (
        _exploded_shingles,
        _shared_shingles,
        _shingle_sets,
        _unordered_sets,
    )

    e = _exploded_shingles(near_dup_docs, "text", "doc_id", 3)
    cands = spark.createDataFrame([(1, 2), (1, 3), (1, 4), (4, 5)], "id_a long, id_b long")
    for sets in (_shingle_sets(e), _unordered_sets(e)):
        got = {
            (r.id_a, r.id_b): (r.na, r.nb, r.shared)
            for r in _shared_shingles(cands, sets).collect()
        }
        assert got == {(1, 2): (11, 11, 11), (1, 3): (11, 11, 10)}


def test_minhash_lsh_threshold_zero_never_returns_zero_jaccard(near_dup_docs):
    """One row per band (r = 1) makes every doc pair whose minimum
    shingle agrees under any permutation a candidate; at threshold 0 the
    verify still returns only pairs sharing a shingle."""
    got = minhash_lsh_pairs(near_dup_docs, k=3, num_hashes=16, bands=16, threshold=0.0).collect()
    assert {(r.id_a, r.id_b) for r in got} >= {(1, 2), (1, 3), (2, 3)}
    assert all(r.jaccard > 0 for r in got)


def test_simhash_identical_texts_distance_zero(near_dup_docs):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(near_dup_docs, k=1).collect()}
    assert sigs[1] == sigs[2]
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_pairs(near_dup_docs, k=1, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0


def test_embedding_neardup_symmetric_clusters(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.id_a, r.id_b) for r in
             embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert pairs == {(1, 2)}


def test_ann_bruteforce_self_is_top1(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(emb, queries, k=3).collect()
    rank1 = {r.query_id: r.neighbor_id for r in top if r.rank == 1}
    assert rank1 == {i: i for i in range(5)}  # self-match always wins


def test_ivf_recall(spark, sf_small):
    """IVF invariants: probing ALL lists equals brute force exactly;
    partial probe trades recall for scan volume but stays useful."""
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    centroids = train_ivf_centroids(emb, k=8, seed=42)
    full_probe = {(r.query_id, r.neighbor_id)
                  for r in ivf_topk(emb, queries, centroids, k=5, nprobe=8).collect()}
    assert full_probe == exact  # nprobe = #lists → identical to full scan
    partial = {(r.query_id, r.neighbor_id)
               for r in ivf_topk(emb, queries, centroids, k=5, nprobe=4).collect()}
    recall = len(exact & partial) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_lsh_bucket_deterministic(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    a = {r.vec_id: r.lsh_bucket for r in
         hyperplane_lsh_bucket(emb, "embedding", 8, dims=64, seed=7).collect()}
    b = {r.vec_id: r.lsh_bucket for r in
         hyperplane_lsh_bucket(emb, "embedding", 8, dims=64, seed=7).collect()}
    assert a == b
    assert all(0 <= v < 256 for v in a.values())


def test_multimodal_plumbing(spark):
    from spark_fuse_spark.operators.multimodal import (
        attach_binary_payload,
        binary_metadata,
        decode_media,
    )

    docs = spark.createDataFrame([(1, "abcdefgh"), (2, "xy")], "doc_id long, text string")
    with_payload = attach_binary_payload(docs)
    meta = {r.doc_id: r for r in binary_metadata(with_payload).collect()}
    assert meta[1].n_bytes == 8 and meta[2].n_bytes == 2
    import hashlib

    assert meta[1].content_sha256 == hashlib.sha256(b"abcdefgh").hexdigest()

    with pytest.raises(NotImplementedError):
        decode_media(with_payload).collect()
    frames = decode_media(with_payload, use_fake=True, frames_per_doc=4).collect()
    doc1 = sorted((r.frame_index, bytes(r.frame)) for r in frames if r.doc_id == 1)
    assert b"".join(f for _, f in doc1) == b"abcdefgh"


def test_multimodal_features_and_resize(spark):
    import math

    from spark_fuse_spark.operators.multimodal import (
        attach_binary_payload,
        decode_media,
        extract_features,
        resize_frames,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "xy"), (3, "")], "doc_id long, text string"
    )
    with_payload = attach_binary_payload(docs)

    feats = {r.doc_id: r.features for r in extract_features(with_payload, dim=8).collect()}
    assert len(feats[1]) == 8
    assert math.isclose(sum(v * v for v in feats[1]), 1.0, rel_tol=1e-5)  # unit norm
    assert feats[3] == [0.0] * 8  # empty payload -> zero vector
    # deterministic: same payload bytes -> same vector
    again = {r.doc_id: r.features for r in extract_features(with_payload, dim=8).collect()}
    assert feats == again

    frames = decode_media(with_payload, use_fake=True, frames_per_doc=2)
    with pytest.raises(NotImplementedError):
        resize_frames(frames, 4, 2).collect()
    resized = resize_frames(frames, 4, 2, use_fake=True).collect()
    assert all(len(bytes(r.frame)) == 8 for r in resized)
    assert all((r.width, r.height) == (4, 2) for r in resized)
    doc1 = [bytes(r.frame) for r in resized if r.doc_id == 1]
    assert doc1 and doc1[0].startswith(b"abcd")


def test_hash_sampling_properties(spark):
    from spark_fuse_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
        train_holdout_split,
    )

    df = spark.range(0, 2000).withColumnRenamed("id", "key")

    s30 = hash_sample(df, "key", 0.30, salt="a")
    n30 = s30.count()
    assert abs(n30 / 2000 - 0.30) < 0.05  # close to nominal rate
    # deterministic: identical selection on re-run
    assert sorted(r.key for r in s30.collect()) == sorted(
        r.key for r in hash_sample(df, "key", 0.30, salt="a").collect()
    )
    # nested: smaller fraction with same salt is a subset
    keys10 = {r.key for r in hash_sample(df, "key", 0.10, salt="a").collect()}
    keys30 = {r.key for r in s30.collect()}
    assert keys10 <= keys30
    # different salt draws a different sample
    keys30b = {r.key for r in hash_sample(df, "key", 0.30, salt="b").collect()}
    assert keys30 != keys30b

    train, hold = train_holdout_split(df, "key", 0.2, salt="v1")
    tk = {r.key for r in train.collect()}
    hk = {r.key for r in hold.collect()}
    assert tk.isdisjoint(hk) and len(tk) + len(hk) == 2000

    strat = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(2000)], "key long, lang string"
    )
    out = stratified_hash_sample(strat, "key", "lang", {"en": 0.5}, 0.05, salt="x")
    rates = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert abs(rates["en"] / 1000 - 0.5) < 0.08
    assert rates.get("de", 0) / 1000 < 0.12


def test_incremental_minhash_is_full_minus_old_pairs(spark, sf_small):
    from spark_fuse_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )
    from spark_fuse_spark.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, k=3, threshold=0.5).collect()
    }
    flagged = docs.withColumn("is_new", F.col("doc_id") % 2 == 1)
    incr = {
        (r.id_a, r.id_b): r.jaccard
        for r in incremental_minhash_pairs(flagged, "is_new", k=3, threshold=0.5).collect()
    }
    want = {p: j for p, j in full.items() if p[0] % 2 == 1 or p[1] % 2 == 1}
    assert incr == want
    # and something was actually excluded at this SF (old x old pairs exist)
    assert len(incr) < len(full)


def test_contrastive_triplets_never_self_negative(spark, sf_small):
    from spark_fuse_spark.catalog import load_all

    rows = load_all()["t_contrastive_triplets"].spark(spark, sf_small).collect()
    assert rows, "expected at least one near-dup anchor at sf0.001"
    for r in rows:
        assert r.negative_id != r.anchor_id
        assert r.positive_id != r.anchor_id


def test_containment_catches_embedded_doc(spark):
    """A short doc verbatim inside a long one: containment ~1 while its
    Jaccard is diluted far below threshold by the union denominator."""
    from spark_fuse_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = (
        "intro words before the quote " + short + " and then a very long tail "
        "of additional unrelated prose that keeps growing the shingle union "
        "so the symmetric jaccard similarity drops well under one half"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "entirely different content here today")],
        "doc_id long, text string",
    )
    cont = {
        (r.id_contained, r.id_container): r.containment
        for r in containment_pairs(docs, k=3, threshold=0.9).collect()
    }
    assert cont[(1, 2)] == 1.0  # every shingle of the short doc is in the long
    assert (1, 3) not in cont and (2, 3) not in cont
    jac = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert (1, 2) not in jac  # the symmetric metric misses it


def test_bbit_minhash_catches_exact_dups_and_bounds_error(spark, sf_small):
    """b-bit pins: (1) high-similarity pairs (jaccard >= 0.9) agree on a
    b-bit band w.p. > 0.998 each at 6 bands x 5 rows — on the fixed
    testdata hashes every one is caught (measured 27/27, and 28/28 of
    ALL exact pairs); (2) the Li-Koenig corrected estimate stays within
    the n=30, b=2 sampling band (measured max err 0.106; pinned 0.35);
    (3) the verify stage makes bbit pairs a subset of exact pairs."""
    from spark_fuse_spark.operators.dedup import bbit_minhash_pairs

    docs = load_table(spark, sf_small, "documents")
    bbit = {
        (r.id_a, r.id_b): (r.bbit_estimate, r.jaccard)
        for r in bbit_minhash_pairs(docs, k=3, threshold=0.5).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high, "testdata should contain planted near-dups"
    assert high <= set(bbit), "high-similarity pairs must be b-bit candidates"
    for (est, jac) in bbit.values():
        assert abs(est - jac) < 0.35, (est, jac)
    assert set(bbit) <= set(exact)  # verify stage guarantees containment


# ----------------------------------------------------------- winnowing
class TestWinnowing:
    def test_shared_substring_guarantee(self, spark):
        # winnowing guarantee: any shared substring of length >= k+w-1
        # (= 11 for k=8, w=4) yields at least one shared fingerprint
        from spark_fuse_spark.operators.dedup import (
            winnowing_fingerprints,
            winnowing_pairs,
        )

        shared_run = "the quick brown fox jumps over the lazy dog"
        docs = spark.createDataFrame(
            [
                (1, f"AAAA {shared_run} BBBB"),
                (2, f"zzz different prefix {shared_run} and a different tail"),
                (3, "completely unrelated content with no overlap at all xyz"),
            ],
            ["doc_id", "text"],
        )
        fps = winnowing_fingerprints(docs, "text", "doc_id")
        by_doc = {
            r["doc_id"]: set()
            for r in docs.select("doc_id").collect()
        }
        for r in fps.collect():
            by_doc[r["doc_id"]].add(r["fingerprint"])
        assert by_doc[1] & by_doc[2], "shared 44-char run must share a fingerprint"
        pairs = {(r.id_a, r.id_b) for r in winnowing_pairs(
            docs, "text", "doc_id", min_shared=1).collect()}
        assert (1, 2) in pairs

    def test_selection_is_sparse_and_deterministic(self, spark):
        from spark_fuse_spark.operators.dedup import winnowing_fingerprints

        text = "abcdefghij" * 30  # 300 chars -> 293 k-grams
        docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        n1 = winnowing_fingerprints(docs, "text", "doc_id").count()
        n2 = winnowing_fingerprints(docs, "text", "doc_id").count()
        assert n1 == n2  # no RNG state anywhere
        # distinct fingerprints over a 10-char period collapse hard; the
        # point: far fewer fingerprints than k-grams
        assert 0 < n1 < 60

    def test_short_documents(self, spark):
        from spark_fuse_spark.operators.dedup import winnowing_fingerprints

        docs = spark.createDataFrame(
            [(1, "tiny"), (2, "exactly8!"), (3, "")], ["doc_id", "text"]
        )
        rows = winnowing_fingerprints(docs, "text", "doc_id").collect()
        # doc 1 (<8 chars after norm) and doc 3 (empty) emit nothing;
        # doc 2 (9 chars -> 2 k-grams, fewer than w windows) emits the min
        assert {r["doc_id"] for r in rows} == {2}
        assert len(rows) == 1

    def test_hot_fingerprint_cap_drops_boilerplate_pairs(self, spark):
        from spark_fuse_spark.operators.dedup import winnowing_pairs

        # 12 identical docs: every fingerprint has df=12.  With the cap
        # below that, ALL evidence is ubiquitous-boilerplate and dropped
        # (no pairs, and no hot join key); raising the cap above df
        # restores the full 12*11/2 clique.
        text = "all rights reserved contact us for details today"
        docs = spark.createDataFrame(
            [(i, text) for i in range(12)], ["doc_id", "text"]
        )
        assert winnowing_pairs(docs, "text", "doc_id", max_df=10,
                               min_shared=1).count() == 0
        assert winnowing_pairs(docs, "text", "doc_id", max_df=12,
                               min_shared=1).count() == 66


# ------------------------------------------------- random projection ANN
class TestRandomProjection:
    def test_rp_topk_recall_floor(self, spark, sf_small):
        from spark_fuse_spark.operators.quantization import rp_topk
        from spark_fuse_spark.operators.similarity import brute_force_topk
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        queries = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = brute_force_topk(emb, queries, k=5, corpus_id="vec_id",
                                 corpus_vec="embedding")
        e = {(r.query_id, r.neighbor_id) for r in exact.collect()}

        def recall(m, rerank):
            approx = rp_topk(emb, queries, dims=64, m=m, k=5, rerank=rerank)
            a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
            return len(a & e) / len(e)

        # JL noise is ~1/sqrt(m) while this corpus's cosine spread is only
        # ~±0.2, so recall floors are necessarily lower than the trained
        # quantizers' (the md5-sign matrix measures on par with a true
        # Gaussian projection) — pin the catalog config's floor AND the
        # m-scaling property that makes the knob trustworthy
        r32 = recall(32, 50)
        assert r32 >= 0.6, f"rp recall at m=32 {r32}"
        assert r32 > recall(16, 50) - 0.05, "recall must not degrade with m"

    def test_rp_project_shape_and_determinism(self, spark):
        from spark_fuse_spark.operators.quantization import rp_project, rp_signs

        df = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 2.0, 0.0, 0.0])],
            ["id", "v"],
        )
        signs = rp_signs(4, 2)
        out = {r["id"]: r["p"] for r in rp_project(df, signs, "v", "p").collect()}
        assert len(out[1]) == 2
        # unit-normalized input times the literal sign matrix, exactly
        assert out[1] == [signs[0][0], signs[1][0]]
        assert out[2] == [signs[0][1], signs[1][1]]


# ------------------------------------------------------- ranking metrics
class TestRankingMetrics:
    def test_hand_computed(self, spark):
        from spark_fuse_spark.operators.retrieval import ideal_dcg, ranking_metrics
        import math

        system = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3),
             (2, 20, 1), (2, 21, 2), (2, 22, 3)],
            ["query_id", "neighbor_id", "rank"],
        )
        truth = spark.createDataFrame(
            # q1: hits at ranks 1 and 3; q2: no hits
            [(1, 10), (1, 12), (1, 99), (2, 98), (2, 97), (2, 96)],
            ["query_id", "neighbor_id"],
        )
        rows = {r.query_id: r for r in ranking_metrics(system, truth, k=3).collect()}
        idcg = ideal_dcg(3)
        assert rows[1].n_relevant == 2
        assert rows[1].precision_at_k == round(2 / 3, 6)
        assert rows[1].mrr == 1.0
        expect_ndcg = round((1 / math.log2(2) + 1 / math.log2(4)) / idcg, 6)
        assert rows[1].ndcg == expect_ndcg
        assert (rows[2].n_relevant, rows[2].precision_at_k, rows[2].mrr,
                rows[2].ndcg) == (0, 0.0, 0.0, 0.0)

    def test_duplicate_truth_rows_do_not_inflate(self, spark):
        from spark_fuse_spark.operators.retrieval import ranking_metrics

        system = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2)], ["query_id", "neighbor_id", "rank"]
        )
        truth = spark.createDataFrame(
            [(1, 10), (1, 10), (1, 10)], ["query_id", "neighbor_id"]
        )
        row = ranking_metrics(system, truth, k=2).collect()[0]
        assert row.n_relevant == 1 and row.mrr == 1.0
