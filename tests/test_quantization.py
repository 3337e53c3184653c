"""Product-quantization ANN: recall against the exact baseline, ADC
fold correctness against a numpy model, and encode determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_fuse_spark.operators.quantization import (
    pq_adc_topk,
    pq_encode,
    train_pq_codebooks,
)
from spark_fuse_spark.operators.similarity import brute_force_topk
from spark_fuse_spark.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def books(emb):
    return train_pq_codebooks(emb, m=16, nbits=6, vec_col="embedding", seed=42)


def _queries(emb):
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_codebook_shape(books):
    assert len(books) == 16
    assert all(len(b) == 64 for b in books)
    assert all(len(c) == 4 for b in books for c in b)


def test_recall_vs_exact_with_rerank(spark, emb, books):
    q = _queries(emb)
    exact = brute_force_topk(emb, q, k=5, corpus_id="vec_id", corpus_vec="embedding")
    approx = pq_adc_topk(
        emb, q, books, k=5, rerank=25, corpus_id="vec_id", corpus_vec="embedding"
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.85, f"recall@5 {recall} below floor"
    # re-ranked scores are EXACT cosines: any overlapping pair agrees
    es = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in es:
            assert abs(es[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_adc_fold_matches_numpy_model(spark):
    import numpy as np

    # tiny handmade geometry: 4-dim vectors, m=2 subspaces, 2 centroids each
    books = [
        [[1.0, 0.0], [0.0, 1.0]],
        [[1.0, 0.0], [0.0, 1.0]],
    ]
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 1.0, 0.0]), (2, [0.0, 1.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    out = {
        r.neighbor_id: r.cosine
        for r in pq_adc_topk(corpus, queries, books, k=2).collect()
    }
    # numpy model: unit-normalize, encode, LUT-fold
    def model(vec):
        v = np.asarray(vec) / np.linalg.norm(vec)
        q = np.asarray([1.0, 0.0, 1.0, 0.0]) / np.sqrt(2.0)
        score = 0.0
        for j, b in enumerate(books):
            sub = v[2 * j : 2 * j + 2]
            cb = np.asarray(b)
            code = int(np.argmax(sub @ cb.T - 0.5 * (cb * cb).sum(axis=1)))
            score += float(q[2 * j : 2 * j + 2] @ cb[code])
        return round(score, 6)

    assert out[1] == pytest.approx(model([1.0, 0.0, 1.0, 0.0]))
    assert out[2] == pytest.approx(model([0.0, 1.0, 0.0, 1.0]))


def test_encode_deterministic_and_reused(spark, emb, books):
    a = pq_encode(emb.limit(50), books).select("vec_id", "pq_code").collect()
    b = pq_encode(emb.limit(50), books).select("vec_id", "pq_code").collect()
    assert sorted(map(tuple, ((r.vec_id, tuple(r.pq_code)) for r in a))) == sorted(
        map(tuple, ((r.vec_id, tuple(r.pq_code)) for r in b))
    )
    # pre-encoded corpus is reused, not re-encoded (column already present)
    pre = pq_encode(emb, books)
    out = pq_adc_topk(pre, _queries(emb), books, k=3)
    assert out.count() == 30


@pytest.mark.parametrize("op", ["pq", "sq8", "ivfpq", "rp"])
def test_full_rerank_equals_brute_force(spark, emb, books, op):
    """With ``rerank`` equal to the corpus size every row is a candidate,
    so the exact re-rank must return brute force's rows exactly: the
    same neighbours, cosines, ranks and tie-breaks."""
    from spark_fuse_spark.operators.quantization import ivfpq_topk, rp_topk, sq8_adc_topk
    from spark_fuse_spark.operators.similarity import train_ivf_centroids

    q = _queries(emb)
    kw = dict(k=10, rerank=emb.count(), corpus_id="vec_id", corpus_vec="embedding")
    if op == "pq":
        got = pq_adc_topk(emb, q, books, **kw)
    elif op == "sq8":
        got = sq8_adc_topk(emb, q, dims=64, **kw)
    elif op == "ivfpq":
        cents = train_ivf_centroids(emb, k=8, vec_col="embedding", seed=42)
        got = ivfpq_topk(emb, q, cents, books, nprobe=len(cents), **kw)
    else:
        got = rp_topk(emb, q, dims=64, m=32, **kw)
    exact = brute_force_topk(emb, q, k=10, corpus_id="vec_id", corpus_vec="embedding")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))


def test_indivisible_dims_raise(spark, emb):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq_codebooks(emb, m=7, nbits=2, vec_col="embedding")


def test_ivfpq_recall_against_ivf_probes(spark, emb, books):
    """IVFPQ must recover what plain IVF (same probes) recovers, up to PQ
    error absorbed by the re-rank — compare against the float IVF path
    rather than the global exact baseline so probe loss cancels out."""
    from spark_fuse_spark.operators.quantization import ivfpq_topk
    from spark_fuse_spark.operators.similarity import ivf_topk, train_ivf_centroids

    q = _queries(emb)
    cents = train_ivf_centroids(emb, k=8, vec_col="embedding", seed=42)
    ivf = ivf_topk(emb, q, cents, k=5, nprobe=3, corpus_id="vec_id",
                   corpus_vec="embedding")
    ivfpq = ivfpq_topk(emb, q, cents, books, k=5, nprobe=3, rerank=25,
                       corpus_id="vec_id", corpus_vec="embedding")
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    b = {(r.query_id, r.neighbor_id) for r in ivfpq.collect()}
    assert len(a & b) / len(a) >= 0.85


def test_ivfpq_reuses_persisted_index_columns(spark, emb, books):
    from spark_fuse_spark.operators.quantization import ivfpq_topk, pq_encode
    from spark_fuse_spark.operators.similarity import ivf_assign, train_ivf_centroids

    cents = train_ivf_centroids(emb, k=8, vec_col="embedding", seed=42)
    index = pq_encode(ivf_assign(emb, cents, "embedding", "ivf_list"), books)
    out = ivfpq_topk(index, _queries(emb), cents, books, k=3, nprobe=2)
    assert out.count() == 30


def test_mips_recall_and_augmentation_semantics(spark, emb):
    """MIPS-LSH recovers most of the exact inner-product top-5 (recall
    floor at 8 tables on sf0.001: measured 0.74), and reported scores
    are EXACT inner products, not augmented-cosine approximations."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_fuse_spark.operators.similarity import mips_lsh_topk

    q = _queries(emb)
    ip = F.expr(
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        "CAST(query_vec AS ARRAY<DOUBLE>), (x,y)->x*y), 0.0D, (a,v)->a+v)"
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), F.round(ip, 6).alias("s")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("s").desc(), F.col("neighbor_id"))
    exact = {
        (r.query_id, r.neighbor_id): r.s
        for r in scored.withColumn("rk", F.row_number().over(w)).filter("rk<=5").collect()
    }
    got = mips_lsh_topk(emb, q, k=5, dims=64, tables=8).collect()
    hits = {(r.query_id, r.neighbor_id) for r in got} & set(exact)
    assert len(hits) / len(exact) >= 0.6
    for r in got:
        if (r.query_id, r.neighbor_id) in exact:
            assert r.inner_product == exact[(r.query_id, r.neighbor_id)]


# ---------------------------------------------------------------- SQ8
def test_sq8_codes_bounded_and_deterministic(spark, emb):
    from spark_fuse_spark.operators.quantization import sq8_encode, sq8_minmax_panel

    panel = sq8_minmax_panel(emb, "embedding", dims=64)
    coded = sq8_encode(emb, panel, "embedding", "sq8_code")
    stats = coded.select(
        F.min(F.array_min("sq8_code")).alias("lo"),
        F.max(F.array_max("sq8_code")).alias("hi"),
        F.min(F.size("sq8_code")).alias("n"),
    ).first()
    assert 0 <= stats.lo and stats.hi <= 255 and stats.n == 64
    # deterministic: a second encode produces identical codes
    again = sq8_encode(emb, panel, "embedding", "sq8_code")
    a = {r.vec_id: r.sq8_code for r in coded.select("vec_id", "sq8_code").collect()}
    b = {r.vec_id: r.sq8_code for r in again.select("vec_id", "sq8_code").collect()}
    assert a == b


def test_sq8_recall_vs_exact_with_rerank(spark, emb):
    from spark_fuse_spark.operators.quantization import sq8_adc_topk

    q = _queries(emb)
    exact = brute_force_topk(emb, q, k=5, corpus_id="vec_id", corpus_vec="embedding")
    approx = sq8_adc_topk(
        emb, q, dims=64, k=5, rerank=25, corpus_id="vec_id", corpus_vec="embedding"
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 8 bits/dim is a much finer quantizer than PQ's 6-bit subspaces:
    # with a 5x rerank margin the exact top-5 should fully survive
    assert recall >= 0.95, f"recall@5 {recall} below floor"
    es = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in es:
            assert abs(es[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_sq8_reuses_precomputed_codes(spark, emb):
    from spark_fuse_spark.operators.quantization import (
        sq8_adc_topk,
        sq8_encode,
        sq8_minmax_panel,
    )

    panel = sq8_minmax_panel(emb, "embedding", dims=64)
    indexed = sq8_encode(emb, panel, "embedding", "sq8_code")
    q = _queries(emb)
    fresh = sq8_adc_topk(emb, q, dims=64, k=5, corpus_id="vec_id",
                         corpus_vec="embedding", panel=panel)
    reused = sq8_adc_topk(indexed, q, dims=64, k=5, corpus_id="vec_id",
                          corpus_vec="embedding", panel=panel)
    assert sorted(map(tuple, fresh.collect())) == sorted(map(tuple, reused.collect()))
