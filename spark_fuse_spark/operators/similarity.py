"""Similarity search & clustering pipeline.

Covers the reference's similarity package
(``/root/reference/src/spark_fuse/similarity/`` — embedding generators,
metric prep, KMeans/AutoKMeans partitioners, representative choice,
pipeline composition) plus the scale-path extensions a training-data
pipeline needs: brute-force cosine top-k (exact baseline) and
IVF/random-hyperplane-LSH approximate variants.

Architecture for 100 TB:
* Query vectors are always the SMALL side → ``F.broadcast`` them; the
  big corpus streams through a broadcast-nested-loop with no corpus
  shuffle at all.
* IVF: k-means-style coarse centroids (deterministically seeded sample),
  corpus bucketed once by nearest centroid (one narrow shuffle, reusable
  across queries), queries probe ``nprobe`` buckets → candidate set is
  |corpus|/k × nprobe per query instead of |corpus|.
* Hyperplane LSH: sign-bit bucketing with deterministic pseudo-random
  planes derived from the portable hash — no RNG state to ship.

Every nearest-neighbour operator here and in ``operators.quantization``
ends in one rule.  Rows are scored (exactly, or approximately: PQ/SQ8
ADC, projected or prefix cosine); ``_top_k`` keeps the best per query
(ties on ascending ``neighbor_id``, position ``rank``); and with
``rerank = r > 0`` an approximate score only picks the top ``max(k, r)``
candidates, which ``_exact_rerank`` re-scores with exact cosine before
the final ``_top_k``.  ``_approx_topk`` is that rule for the
approximate scorers.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm, l2_normalize
from .topk import top_k_per_group

__all__ = [
    "identity_embedding",
    "hash_embedding",
    "prepare_cosine",
    "kmeans_partition",
    "auto_kmeans_partition",
    "select_representatives",
    "SimilarityPipeline",
    "brute_force_topk",
    "ivf_assign",
    "ivf_topk",
    "hyperplane_lsh_bucket",
    "mips_lsh_topk",
    "mmr_diversify",
    "mutual_knn_graph",
]


# ---------------------------------------------------------------- embeddings
def identity_embedding(df: DataFrame, source_col: str, output_col: str = "embedding",
                       drop_source: bool = False) -> DataFrame:
    """Reference ``IdentityEmbeddingGenerator`` (``similarity/embedding.py:97-121``)."""
    out = df.withColumn(output_col, F.col(source_col).cast("array<float>"))
    return out.drop(source_col) if drop_source and source_col != output_col else out


def hash_embedding(df: DataFrame, text_col: str, output_col: str = "embedding",
                   dims: int = 16) -> DataFrame:
    """Deterministic hash-stub embedding (reference ``embedding.py:25-65``):
    sha256-seeded unit vector per text.  Offline-safe stand-in for model
    encoders; real encoders plug in as pandas UDFs (see ``ai`` docs) with
    the same (text → array<float>) contract."""
    h = F.sha2(F.col(text_col), 256)
    comps = []
    for i in range(dims):
        byte = F.conv(F.substring(h, i * 4 + 1, 4), 16, 10).cast("double")
        comps.append(byte - 32767.5)  # center the 16-bit chunk
    vec = F.array(*comps)
    return df.withColumn(output_col, l2_normalize(vec).cast("array<float>"))


def prepare_cosine(df: DataFrame, vec_col: str = "embedding",
                   output_col: str = "embedding_unit") -> DataFrame:
    """Reference ``CosineSimilarity.prepare`` (``similarity/metrics.py:78-92``):
    L2-normalize so Euclidean machinery ≈ cosine.  Array-native (no
    VectorUDT boxing)."""
    return df.withColumn(output_col, l2_normalize(vec_col).cast("array<float>"))


# ---------------------------------------------------------------- clustering
def kmeans_partition(df: DataFrame, vec_col: str = "embedding", k: int = 8,
                     max_iter: int = 20, seed: int = 42,
                     prediction_col: str = "cluster_id") -> DataFrame:
    """MLlib KMeans fit+transform (reference ``partitioners.py:52-86``).

    Arrays are converted to MLlib vectors only at the ML boundary.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.withColumn("__features", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=k, maxIter=max_iter, seed=seed, featuresCol="__features",
                   predictionCol=prediction_col).fit(feat)
    return model.transform(feat).drop("__features")


def auto_kmeans_partition(df: DataFrame, vec_col: str = "embedding",
                          target_partition_size: int = 5000, min_k: int = 2,
                          max_k: int = 64, seed: int = 42,
                          prediction_col: str = "cluster_id") -> DataFrame:
    """Reference ``AutoKMeansPartitioner`` (``partitioners.py:89-152``):
    k = clamp(ceil(count / target_partition_size), min_k, max_k)."""
    n = df.count()
    k = max(min_k, min(max_k, math.ceil(n / max(target_partition_size, 1))))
    return kmeans_partition(df, vec_col, k=k, seed=seed, prediction_col=prediction_col)


def select_representatives(df: DataFrame, cluster_col: str = "cluster_id",
                           strategy: str = "first", order_col: str | None = None) -> DataFrame:
    """Reference choice functions (``similarity/choices.py:29-70``)."""
    from .topk import first_per_group, max_by_per_group

    if strategy == "first":
        if order_col is None:
            raise ValueError("strategy='first' requires order_col")
        return first_per_group(df, [cluster_col], [order_col])
    if strategy == "max":
        if order_col is None:
            raise ValueError("strategy='max' requires order_col")
        return max_by_per_group(df, [cluster_col], order_col)
    raise ValueError(f"unknown strategy {strategy!r}")


class SimilarityPipeline:
    """Compose embed → prepare → partition → choose (reference
    ``similarity/pipeline.py:19-67``), DataFrame-in/DataFrame-out."""

    def __init__(self, embed=None, prepare=prepare_cosine, partition=kmeans_partition,
                 choose=None):
        self.embed, self.prepare, self.partition, self.choose = embed, prepare, partition, choose

    def run(self, df: DataFrame) -> DataFrame:
        out = df
        if self.embed is not None:
            out = self.embed(out)
        if self.prepare is not None:
            out = self.prepare(out)
        if self.partition is not None:
            out = self.partition(out)
        return out

    def select_representatives(self, df: DataFrame) -> DataFrame:
        if self.choose is None:
            raise ValueError("no choice function configured")
        return self.choose(self.run(df))


# ------------------------------------------------------------------ ranking
def _top_k(scored: DataFrame, query_id: str, by: Column, k: int) -> DataFrame:
    """The ``k`` best rows per query by sort Column ``by``, ties on
    ascending ``neighbor_id``, numbered from 1 in ``rank``."""
    return top_k_per_group(
        scored, [query_id], [by, F.col("neighbor_id").asc()], k,
        descending=None, rank_column="rank",
    )


def _exact_rerank(
    corpus: DataFrame, queries: DataFrame, cand: DataFrame, k: int,
    corpus_id: str, corpus_vec: str, query_id: str, query_vec: str,
) -> DataFrame:
    """Exact-cosine top-``k`` over the ``(query_id, neighbor_id)`` rows of
    ``cand``: the candidates are broadcast onto one corpus scan and
    joined to the broadcast query panel, so no corpus row shuffles.
    Output: ``query_id, neighbor_id, cosine, rank``."""
    exact = (
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec))
        .join(F.broadcast(cand.select(query_id, "neighbor_id")), "neighbor_id")
        .join(F.broadcast(queries.select(query_id, query_vec)), query_id)
        .select(
            query_id,
            "neighbor_id",
            F.round(cosine_similarity(F.col(corpus_vec), F.col(query_vec)), 6).alias("cosine"),
        )
    )
    return _top_k(exact, query_id, F.col("cosine").desc(), k)


def _approx_topk(
    scored: DataFrame, score: str, k: int, rerank: int, corpus: DataFrame, queries: DataFrame,
    corpus_id: str, corpus_vec: str, query_id: str, query_vec: str,
) -> DataFrame:
    """Top-``k`` per query from approximate scores: the top
    ``max(k, rerank)`` rows of ``scored`` by column ``score``, then
    ``_exact_rerank`` of those when ``rerank`` > 0, else ``score``
    returned as ``cosine``.  Output: ``query_id, neighbor_id, cosine,
    rank``."""
    cand = _top_k(scored, query_id, F.col(score).desc(), max(k, rerank))
    if not rerank:
        return cand.select(query_id, "neighbor_id", F.col(score).alias("cosine"), "rank")
    return _exact_rerank(corpus, queries, cand, k, corpus_id, corpus_vec, query_id, query_vec)


# ------------------------------------------------------------------- search
def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The query side is broadcast — the corpus is scanned exactly once with
    NO shuffle of corpus rows; only the (|Q|·k)-sized ranked result
    shuffles.  Ties broken by neighbor id for cross-engine determinism.
    """
    # norms are computed once per corpus row / per query row (O(n + q))
    # instead of per scored pair (O(n·q) × 2 extra folds); the cosine is
    # the identical dot/(|c|·|q|) expression with the identical zero
    # guard, so values are bit-identical
    q = F.broadcast(
        queries.select(
            F.col(query_id), F.col(query_vec), l2_norm(F.col(query_vec)).alias("__qn")
        )
    )
    denom = F.col("__cn") * F.col("__qn")
    sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot(F.col(corpus_vec), F.col(query_vec)) / denom
    )
    scored = (
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec),
            l2_norm(F.col(corpus_vec)).alias("__cn"),
        )
        .crossJoin(q)
        .select(
            F.col(query_id),
            F.col("neighbor_id"),
            F.round(sim, 6).alias("cosine"),
        )
    )
    return _top_k(scored, query_id, F.col("cosine").desc(), k)


def _array_lit_sql(values: "list[float]") -> str:
    """Spark-SQL double-array literal. Building literal-heavy trees through
    the Column API costs one py4j round-trip per node (measured: 48
    64-float arrays = ~4 s of driver time); one parsed SQL string is
    effectively free and produces the identical expression."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")"


def _dot_lit_sql(vec_sql: str, values: "list[float]") -> str:
    """SQL for dot(vec_col, literal_vector) — same left-to-right fold as
    ``functions.vectors.dot`` so results are bit-identical."""
    return (
        f"aggregate(zip_with(CAST({vec_sql} AS ARRAY<DOUBLE>), {_array_lit_sql(values)}, "
        "(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    list_col: str = "ivf_list",
) -> DataFrame:
    """Assign each row to its nearest (cosine) centroid — the IVF bucketing
    pass.  Centroids are a driver-side list (k × dims floats — tiny),
    inlined as SQL literals.

    Shape: one sims array + first-max ``array_position`` argmax.  (The
    previous chained ``when(s > best_sim, ...)`` form embedded the
    running best twice per step — an O(2^k) expression tree that showed
    up as a 31 MiB task binary and two minutes of planning at k=8.)
    """
    sims_sql = "array(" + ", ".join(
        _dot_lit_sql("__ivf_unit", _unit(cvec)) for _, cvec in centroids
    ) + ")"
    ids_sql = "array(" + ", ".join(str(int(cid)) for cid, _ in centroids) + ")"
    out = (
        corpus.withColumn("__ivf_unit", l2_normalize(vec_col))
        .withColumn("__ivf_sims", F.expr(sims_sql))
        .withColumn(
            list_col,
            F.expr(
                f"element_at({ids_sql}, "
                "CAST(array_position(__ivf_sims, array_max(__ivf_sims)) AS INT))"
            ),
        )
    )
    return out.drop("__ivf_unit", "__ivf_sims")


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def _sample_matrix(
    corpus: DataFrame,
    vec_col: str,
    sample_rows: int,
    sample_fraction: "float | None",
    id_col: "str | None",
    salt: str,
):
    """The training sample of ``vec_col`` as a float64 numpy matrix, taken
    with the hash-gate + ``CollectLimit`` contract of
    ``train_ivf_centroids`` (``salt`` keys the gate); shared with
    ``quantization.train_pq_codebooks``."""
    import numpy as np

    sample = corpus
    if sample_fraction is not None:
        if id_col is None:
            raise ValueError("sample_fraction requires id_col for the hash gate")
        from .sampling import sample_gate

        sample = sample.where(sample_gate(id_col, sample_fraction, salt=salt))
    rows = sample.select(F.col(vec_col).cast("array<double>")).limit(sample_rows).collect()
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError("empty or ragged vector sample; cannot train")
    return x


def train_ivf_centroids(
    corpus: DataFrame, k: int, vec_col: str = "embedding", seed: int = 42,
    sample_rows: int = 10_000, sample_fraction: "float | None" = None,
    id_col: "str | None" = None, max_iter: int = 20,
) -> list[tuple[int, list[float]]]:
    """Coarse quantizer training: narrow sample → driver-side Lloyd's.

    The sample is taken WITHOUT any corpus-wide sort or shuffle: an
    optional deterministic hash gate (``operators.sampling.sample_gate``,
    a per-row filter that composes with the scan) thins the corpus to
    roughly the wanted size, then ``limit(sample_rows)`` collects the
    capped sample — a ``CollectLimit`` that stops reading as soon as the
    cap is met.  At 100 TB pass ``sample_fraction ≈ sample_rows·5/n_rows``
    with ``id_col`` so the gate (not the limit) does the thinning and the
    sample draws from all files.

    k-means itself runs in numpy on the driver: the sample is ≤
    ``sample_rows`` × dims floats (a few MB) and coarse-quantizer
    training needs no cluster — this replaces an MLlib fit whose
    per-iteration Spark jobs dominated wall time at every scale tested.
    Deterministic: seeded init, fixed iteration count, stable tie-break.
    """
    import numpy as np

    x = _sample_matrix(corpus, vec_col, sample_rows, sample_fraction, id_col, f"ivf{seed}")
    k_eff = min(k, x.shape[0])
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(x.shape[0], size=k_eff, replace=False)]
    for _ in range(max_iter):
        # ||x-c||^2 = ||x||^2 - 2 x·c + ||c||^2 ; argmin over c drops ||x||^2
        d = -2.0 * (x @ centers.T) + (centers * centers).sum(axis=1)
        assign = d.argmin(axis=1)
        new_centers = centers.copy()
        for j in range(k_eff):
            members = x[assign == j]
            if members.shape[0]:
                new_centers[j] = members.mean(axis=0)
        if np.allclose(new_centers, centers, rtol=0.0, atol=1e-12):
            break
        centers = new_centers
    return [(i, [float(v) for v in c]) for i, c in enumerate(centers)]


def ivf_probes(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Per-query probed IVF lists: rank centroid lists by query-centroid
    cosine, keep the ``nprobe`` nearest.  One sims array + posexplode
    (a per-centroid unionByName chain would build k plan branches and
    k× the py4j traffic).  Output: ``query_id, query_vec, ivf_list`` —
    shared by the float (``ivf_topk``) and quantized
    (``quantization.ivfpq_topk``) search paths.
    """
    sims_sql = "array(" + ", ".join(
        _dot_lit_sql("__q_unit", _unit(cvec)) for _, cvec in centroids
    ) + ")"
    ids_sql = "array(" + ", ".join(str(int(cid)) for cid, _ in centroids) + ")"
    q = (
        queries.select(F.col(query_id), F.col(query_vec))
        .withColumn("__q_unit", l2_normalize(query_vec))
        .select(
            F.col(query_id),
            F.col(query_vec),
            F.posexplode(F.expr(sims_sql)).alias("__pos", "__csim"),
        )
        .withColumn("ivf_list", F.element_at(F.expr(ids_sql), F.col("__pos") + 1))
    )
    return top_k_per_group(
        q, [query_id], [F.col("__csim").desc(), F.col("ivf_list").asc()], nprobe,
        descending=None,
    ).select(query_id, query_vec, "ivf_list")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroid lists.

    Corpus is bucketed once (reusable across query batches); each query
    joins only its probed buckets, cutting scanned rows by ~k/nprobe.
    """
    bucketed = ivf_assign(corpus, centroids, corpus_vec, "ivf_list")
    probed = ivf_probes(queries, centroids, nprobe, query_id, query_vec)

    # per-side norm precompute (see brute_force_topk) — bit-identical
    # cosine, one dot fold per scored pair instead of three folds
    denom = F.col("__cn") * F.col("__qn")
    sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot(F.col(corpus_vec), F.col(query_vec)) / denom
    )
    scored = (
        bucketed.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec),
            l2_norm(F.col(corpus_vec)).alias("__cn"),
            "ivf_list",
        )
        .join(
            F.broadcast(
                probed.withColumn("__qn", l2_norm(F.col(query_vec)))
            ),
            "ivf_list",
        )
        .select(F.col(query_id), F.col("neighbor_id"), F.round(sim, 6).alias("cosine"))
    )
    return _top_k(scored, query_id, F.col("cosine").desc(), k)


def hyperplane_lsh_bucket(
    df: DataFrame, vec_col: str = "embedding", num_planes: int = 12,
    bucket_col: str = "lsh_bucket", dims: int | None = None, seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH bucket id (sign pattern of ``num_planes``
    projections).  Planes are deterministic pseudo-random unit vectors
    derived from an LCG — identical across runs/engines, nothing to
    broadcast.

    ``dims`` is required: array columns carry no fixed length in the
    schema, and inferring it would mean a hidden driver-side action
    (``.first()`` on the corpus) inside a library default.
    """
    if dims is None:
        raise ValueError(
            "dims is required (array<float> schemas carry no fixed length; "
            "pass the embedding dimensionality explicitly)"
        )
    planes = _pseudo_planes(num_planes, dims, seed)
    out = df.withColumn("__lsh_unit", l2_normalize(vec_col))
    bucket_sql = " + ".join(
        f"IF({_dot_lit_sql('__lsh_unit', p)} >= 0, {1 << i}L, 0L)" for i, p in enumerate(planes)
    )
    return out.withColumn(bucket_col, F.expr(f"CAST({bucket_sql} AS BIGINT)")).drop("__lsh_unit")


def _pseudo_planes(num_planes: int, dims: int, seed: int) -> list[list[float]]:
    state = seed % 2147483647 or 1
    planes = []
    for _ in range(num_planes):
        comps = []
        for _ in range(dims):
            state = (state * 48271) % 2147483647
            comps.append(state / 2147483647.0 - 0.5)
        planes.append(_unit(comps))
    return planes


def mips_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dims: "int | None" = None,
    tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Maximum inner-product search (MIPS) with sublinear candidates via
    the asymmetric augmentation reduction (Shrivastava & Li 2014,
    "Asymmetric LSH for Sublinear Time MIPS", public paper).

    Inner product is NOT a metric (a vector can beat its own
    self-similarity), so cosine/Euclidean LSH cannot index it directly.
    The reduction appends one coordinate: corpus vectors become
    ``[x/M, sqrt(1 − ‖x‖²/M²)]`` (M = max corpus norm, so every
    augmented vector is unit) and queries ``[q, 0]`` — after which
    augmented cosine order equals inner-product order, and the existing
    random-hyperplane machinery applies:

    * M comes from ONE scalar aggregate folded in as a 1-row broadcast
      panel (no driver action);
    * each of ``tables`` hash tables buckets augmented corpus and query
      by deterministic sign bits; candidates are bucket-equality joins
      (shuffle O(rows × tables), never all-pairs — queries broadcast);
    * survivors are scored with the EXACT inner product on the original
      vectors and top-k ranked with an id tie-break.

    Semantics: top-k WITHIN the LSH candidate set (same contract as
    ``embedding_lsh_pairs``); recall rises with ``tables``.  Every step
    is engine-deterministic, so the differential oracle replays it all.
    """
    if dims is None:
        raise ValueError("dims is required (array<float> has no fixed length)")
    aug_planes = [_pseudo_planes(planes_per_table, dims + 1, seed + t) for t in range(tables)]

    m_panel = F.broadcast(
        corpus.select(F.max(l2_norm(corpus_vec)).alias("__M"))
    )

    def bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
        return " + ".join(
            f"IF({_dot_lit_sql(vec_sql, p)} >= 0, {1 << i}L, 0L)"
            for i, p in enumerate(planes)
        )

    # corpus: augmented = [x/M, sqrt(1 - ||x||^2/M^2)]
    c = (
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec))
        .crossJoin(m_panel)
        .withColumn(
            "__aug",
            F.expr(
                f"concat(transform(CAST({corpus_vec} AS ARRAY<DOUBLE>), x -> x / __M), "
                f"array(sqrt(greatest(0.0D, 1.0D - "
                f"aggregate(zip_with(CAST({corpus_vec} AS ARRAY<DOUBLE>), "
                f"CAST({corpus_vec} AS ARRAY<DOUBLE>), (x, y) -> x * y), 0.0D, "
                f"(a, v) -> a + v) / (__M * __M)))))"
            ),
        )
    )
    # queries: augmented = [q, 0] — bucket signs are scale-invariant
    q = queries.select(F.col(query_id), F.col(query_vec)).withColumn(
        "__aug",
        F.expr(f"concat(CAST({query_vec} AS ARRAY<DOUBLE>), array(0.0D))"),
    )
    c_buckets = [
        c.select("neighbor_id", corpus_vec, F.lit(t).alias("t"),
                 F.expr(f"CAST({bucket_sql('__aug', planes)} AS BIGINT)").alias("bkt"))
        for t, planes in enumerate(aug_planes)
    ]
    q_buckets = [
        q.select(query_id, query_vec, F.lit(t).alias("t"),
                 F.expr(f"CAST({bucket_sql('__aug', planes)} AS BIGINT)").alias("bkt"))
        for t, planes in enumerate(aug_planes)
    ]
    cb = c_buckets[0]
    for extra in c_buckets[1:]:
        cb = cb.unionByName(extra)
    qb = q_buckets[0]
    for extra in q_buckets[1:]:
        qb = qb.unionByName(extra)

    cand = (
        cb.join(F.broadcast(qb), ["t", "bkt"])
        .select(query_id, "neighbor_id", corpus_vec, query_vec)
        .dropDuplicates([query_id, "neighbor_id"])
    )
    ip = F.expr(
        f"aggregate(zip_with(CAST({corpus_vec} AS ARRAY<DOUBLE>), "
        f"CAST({query_vec} AS ARRAY<DOUBLE>), (x, y) -> x * y), 0.0D, (a, v) -> a + v)"
    )
    return _top_k(
        cand.select(query_id, "neighbor_id", F.round(ip, 6).alias("inner_product")),
        query_id, F.col("inner_product").desc(), k,
    )


def mmr_diversify(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 8,
    pool: int = 25,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998) with lambda = 1/2: greedily pick the
    candidate maximizing ``qsim - max_sim_to_already_selected`` — the
    result-diversification stage RAG retrieval runs after ANN recall.

    Engine-portable by construction: cosines are quantized ONCE into
    integer micro-units (``floor(cos * 1e6 + 0.5)`` — the repo-wide
    rounding convention), so every greedy comparison is exact integer
    arithmetic and the pick sequence replays identically on any engine
    (ties break by id).

    Scale shape: the ONLY corpus-sized step is the relevance scan — a
    broadcast query panel over the corpus with a distributed
    TakeOrdered cut to ``pool`` rows.  Everything after (the pairwise
    panel, the k-1 greedy rounds) runs on checkpointed <= pool-row
    frames: O(pool^2) similarity pairs, one anti-join + bounded argmax
    per round, never a corpus shuffle.

    Returns ``(rank, id, qsim_micro, redundancy_micro)``;
    ``redundancy_micro`` is NULL for the first pick.
    """
    if k < 1 or pool < k:
        raise ValueError("need k >= 1 and pool >= k")
    micro = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)).cast("long")  # noqa: E731
    # the query norm is a constant of the corpus scan — computing it in
    # the 1-row broadcast panel saves one norm fold per corpus row while
    # keeping the identical dot/(|v|·|q|) expression and zero guard
    q = F.broadcast(
        query.select(
            F.col(query_vec).alias("__qv"), l2_norm(F.col(query_vec)).alias("__qn")
        )
    )
    qden = l2_norm(F.col("v")) * F.col("__qn")
    qcos = F.when(qden == 0.0, F.lit(0.0)).otherwise(
        dot(F.col("v"), F.col("__qv")) / qden
    )
    cand = (
        corpus.select(F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("v"))
        .crossJoin(q)
        .select("id", "v", micro(qcos).alias("qs"))
        .orderBy(F.col("qs").desc(), "id")
        .limit(pool)
        .localCheckpoint()
    )
    a = cand.select(F.col("id").alias("ai"), F.col("qs").alias("aqs"), F.col("v").alias("av"))
    b = cand.select(F.col("id").alias("bi"), F.col("v").alias("bv"))
    pair = (
        a.join(F.broadcast(b), F.col("ai") != F.col("bi"))
        .select("ai", "aqs", "bi", micro(cosine_similarity(F.col("av"), F.col("bv"))).alias("ps"))
        .localCheckpoint()
    )
    sel = (
        cand.orderBy(F.col("qs").desc(), "id")
        .limit(1)
        .select(
            "id",
            "qs",
            F.lit(None).cast("long").alias("red"),
            F.lit(1).alias("rank"),
        )
        .localCheckpoint()
    )
    for r in range(2, k + 1):
        picked = sel.select(F.col("id").alias("bi"))
        nxt = (
            pair.join(F.broadcast(picked), "bi")
            .join(F.broadcast(picked.select(F.col("bi").alias("ai"))), "ai", "left_anti")
            .groupBy("ai", "aqs")
            .agg(F.max("ps").alias("red"))
            .orderBy((F.col("aqs") - F.col("red")).desc(), "ai")
            .limit(1)
            .select(F.col("ai").alias("id"), F.col("aqs").alias("qs"), "red", F.lit(r).alias("rank"))
        )
        sel = sel.unionByName(nxt).localCheckpoint()
    return sel.select(
        "rank",
        "id",
        F.col("qs").alias("qsim_micro"),
        F.col("red").alias("redundancy_micro"),
    ).orderBy("rank")


# ------------------------------------------------- blocked shard kNN graph
def mutual_knn_graph(
    df: DataFrame,
    shard_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    cap: int = 4096,
) -> DataFrame:
    """EXACT mutual-kNN graph within shards, with bounded task size.

    For each vector, the top-``k`` cosine neighbors among vectors sharing
    its ``shard_col`` value (rounded cosine desc, id tie-break), plus a
    ``mutual`` flag (dst also ranks src in ITS top-k) — the standard input
    to graph-based semantic dedup and agglomerative clustering.

    Scale shape — the naive plan (equi-join on the shard key, window per
    src) puts an ENTIRE shard behind one join key: shards whose size grows
    with the corpus (labels, domains, languages do) turn that key into a
    quadratic straggler.  Here each shard is hash-split into
    ``ceil(n/cap)`` blocks and the pair stage joins on
    ``(shard, src_block, dst_block)``: every task compares ≤ cap × cap
    vectors regardless of corpus size, and the shuffle key space GROWS
    with the data instead of the per-key payload.  Top-k is hierarchical —
    per (src, dst_block) first (window partitions ≤ cap rows), then per
    src over the ≤ k·ceil(n/cap) block winners — which is exactly the
    global top-k because a global winner must win its own block.  The
    total pair COUNT is still Σ n_shard² (inherent to exact within-shard
    kNN); what the blocking buys is that no single task, join key, or
    window partition ever holds a corpus-growing slice.

    Output: (src_id, dst_id, cosine, rank, mutual), one row per kNN edge.
    """
    sizes = df.groupBy(shard_col).agg(F.count(F.lit(1)).alias("__n"))
    nb = F.greatest(F.lit(1), F.ceil(F.col("__n") / cap)).cast("int")
    # the per-vector L2 norm is computed ONCE here (O(corpus), before the
    # block replication) and carried through the pair join, so the
    # per-pair work is a single dot fold instead of dot + two norm folds
    # — the cosine value is the identical expression dot/(|a|·|b|) with
    # the identical zero-denominator guard, just with the norm factors
    # evaluated once per row instead of once per pair (measured: the
    # 3-fold per-pair cosine costs ~2× the dot fold alone)
    base = df.join(F.broadcast(sizes), shard_col).select(
        F.col(shard_col).alias("__shard"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_norm(F.col(vec_col)).alias("__nm"),
        nb.alias("__nb"),
        F.pmod(F.xxhash64(F.col(id_col)), nb).cast("int").alias("__blk"),
    )
    # src replicated to every dst block, dst replicated to every src block:
    # the join key (__shard, __sb, __db) receives ≤ cap rows from each side
    src = base.select(
        "__shard",
        F.col("__id").alias("src_id"),
        F.col("__v").alias("ev"),
        F.col("__nm").alias("__en"),
        F.col("__blk").alias("__sb"),
        F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)).alias("__db"),
    )
    dst = base.select(
        "__shard",
        F.col("__id").alias("dst_id"),
        F.col("__v").alias("dv"),
        F.col("__nm").alias("__dn"),
        F.col("__blk").alias("__db"),
        F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)).alias("__sb"),
    )
    denom = F.col("__dn") * F.col("__en")
    cos = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot(F.col("dv"), F.col("ev")) / denom
    )
    pairs = (
        src.join(dst, ["__shard", "__sb", "__db"])
        .where(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            "__db",
            F.round(cos, 6).alias("cosine"),
        )
    )
    w_blk = Window.partitionBy("src_id", "__db").orderBy(
        F.col("cosine").desc(), F.col("dst_id")
    )
    w_all = Window.partitionBy("src_id").orderBy(F.col("cosine").desc(), F.col("dst_id"))
    knn = (
        pairs.withColumn("__r", F.row_number().over(w_blk))
        .where(F.col("__r") <= k)
        .withColumn("rank", F.row_number().over(w_all))
        .where(F.col("rank") <= k)
        .select("src_id", "dst_id", "cosine", "rank")
        .localCheckpoint()  # feeds itself (mutuality self-join)
    )
    m = knn.select(F.col("src_id").alias("m_dst"), F.col("dst_id").alias("m_src"))
    return (
        knn.join(
            m.withColumn("mutual", F.lit(True)),
            (F.col("src_id") == F.col("m_src")) & (F.col("dst_id") == F.col("m_dst")),
            "left",
        )
        .select(
            "src_id",
            "dst_id",
            "cosine",
            "rank",
            F.coalesce(F.col("mutual"), F.lit(False)).alias("mutual"),
        )
    )
