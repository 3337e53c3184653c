"""Product quantization (PQ) for approximate nearest-neighbor search.

Extends the vector-search family (``operators.similarity``: brute-force,
IVF, hyperplane LSH — reference ``similarity/*``, SURVEY.md §2.13) with
the memory-bound scale path: instead of scanning 64 floats per corpus
vector, each vector is compressed to ``m`` sub-codes (one byte-ish code
per subspace) and queries score candidates through a per-query lookup
table (ADC — asymmetric distance computation, Jégou et al. 2011,
"Product Quantization for Nearest Neighbor Search", public paper).

Scale story (100 TB of embeddings):
* codebooks are trained driver-side on a deterministic hash-gated
  sample (same contract as ``train_ivf_centroids`` — no corpus-wide
  sort, a narrow filter + ``CollectLimit``), m × 2^nbits × dims/m
  floats — a few KB broadcast in the UDF closure;
* encoding is ONE Arrow-batched pandas UDF pass over the corpus
  (numpy matmul per batch), writing an ``array<int>`` that is ~16–64×
  smaller than the float vector — encode once, persist, reuse across
  query batches;
* query scoring never touches corpus floats: the per-query LUT
  (m × 2^nbits partial dots) is computed once per query, broadcast,
  and each corpus row folds its codes through the LUT with a
  whole-stage-codegen ``aggregate(zip_with(...))`` — no Python, no
  shuffle of corpus rows; only the narrow (query, neighbor, score)
  triples move;
* exact re-ranking joins the tiny candidate set back to corpus
  vectors (broadcast semi-join) through ``similarity._exact_rerank``,
  the one refine step of every ANN operator (``similarity._approx_topk``).

Cosine semantics: vectors are L2-normalized before codebook training
and encoding, so the ADC score approximates the cosine and the optional
re-rank computes it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from ..functions.vectors import l2_normalize
from .similarity import _approx_topk, _sample_matrix, ivf_assign, ivf_probes

__all__ = [
    "train_pq_codebooks",
    "pq_encode",
    "pq_adc_topk",
    "ivfpq_topk",
    "sq8_minmax_panel",
    "sq8_encode",
    "sq8_adc_topk",
    "rp_signs",
    "rp_project",
    "rp_topk",
]


def _lloyd(x, k: int, seed: int, max_iter: int):
    """Seeded, fixed-iteration Lloyd's with stable assignment tie-break
    (first-minimum) — deterministic across runs and platforms."""
    import numpy as np

    k_eff = min(k, x.shape[0])
    rng = np.random.default_rng(seed)
    centers = x[rng.choice(x.shape[0], size=k_eff, replace=False)]
    for _ in range(max_iter):
        d = -2.0 * (x @ centers.T) + (centers * centers).sum(axis=1)
        assign = np.argmin(d, axis=1)
        new_centers = centers.copy()
        for c in range(k_eff):
            members = x[assign == c]
            if len(members):
                new_centers[c] = members.mean(axis=0)
        if np.allclose(new_centers, centers):
            break
        centers = new_centers
    return centers


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    nbits: int = 4,
    vec_col: str = "embedding",
    dims: "int | None" = None,
    seed: int = 42,
    sample_rows: int = 10_000,
    sample_fraction: "float | None" = None,
    id_col: "str | None" = None,
    max_iter: int = 20,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``2**nbits`` centroids each.

    Returns ``codebooks[m][2**nbits][dims/m]`` as plain floats (a few KB
    — ships in UDF closures, nothing to broadcast explicitly).  ``dims``
    may be given to skip schema inspection; it must divide into ``m``
    equal subspaces.
    """
    import numpy as np

    x = _sample_matrix(corpus, vec_col, sample_rows, sample_fraction, id_col, f"pq{seed}")
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    x = x / norms
    d = x.shape[1]
    if dims is not None and dims != d:
        raise ValueError(f"dims={dims} does not match sampled vectors ({d})")
    if d % m:
        raise ValueError(f"vector dims {d} not divisible by m={m} subspaces")
    dsub, ksub = d // m, 2**nbits
    books = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        centers = _lloyd(sub, ksub, seed + j, max_iter)
        books.append([[float(v) for v in c] for c in centers])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Append ``array<int>`` PQ codes (one Arrow-batched numpy pass).

    Each batch is one matmul per subspace; assignment is first-minimum
    (numpy argmax on the negated distance), so codes are deterministic.
    """
    import numpy as np

    cb = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(cb)
    dsub = cb[0].shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def encode(series):
        import numpy as np
        import pandas as pd

        mat = np.asarray(series.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        codes = np.empty((mat.shape[0], m), dtype=np.int32)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            # argmin ||x-c||² == argmax (x·c − ||c||²/2); first max wins
            scores = sub @ cb[j].T - 0.5 * (cb[j] * cb[j]).sum(axis=1)
            codes[:, j] = np.argmax(scores, axis=1)
        return pd.Series([c.tolist() for c in codes])

    return df.withColumn(code_col, encode(F.col(vec_col)))


def _with_lut(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: str,
    lut_col: str,
) -> DataFrame:
    """Per-query ADC lookup table: flat ``array<double>`` of length
    m × 2^nbits where slot ``j*ksub + c`` holds dot(q_sub_j, codebook[j][c])."""
    import numpy as np

    cb = [np.asarray(b, dtype=np.float64) for b in codebooks]
    m = len(cb)
    dsub = cb[0].shape[1]

    @pandas_udf(ArrayType(DoubleType()))
    def lut(series):
        import numpy as np
        import pandas as pd

        mat = np.asarray(series.tolist(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        parts = [mat[:, j * dsub : (j + 1) * dsub] @ cb[j].T for j in range(m)]
        flat = np.hstack(parts)
        return pd.Series([row.tolist() for row in flat])

    return queries.withColumn(lut_col, lut(F.col(query_vec)))


def _adc(code_col: str, ksub: int) -> Column:
    """ADC score of a PQ-coded row against its query's ``__lut``
    (``_with_lut``): the sum over subspaces ``j`` of slot
    ``j*ksub + code[j]``."""
    return F.expr(
        f"aggregate(zip_with({code_col}, sequence(0, size({code_col}) - 1), "
        f"(c, j) -> element_at(__lut, j * {ksub} + c + 1)), 0.0D, (a, x) -> a + x)"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 0,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate top-k via ADC over PQ codes, with optional exact re-rank.

    If ``code_col`` is already present on ``corpus`` (encode-once
    workflows) it is reused; otherwise the corpus is encoded inline.
    With ``rerank = r > 0`` the top-``r`` ADC candidates per query are
    re-scored with exact cosine (broadcast join back to corpus vectors)
    and the final ``k`` keep exact scores — recall then depends on r,
    not on quantization error alone.

    Output: ``query_id, neighbor_id, cosine, rank`` (``cosine`` is the
    ADC approximation when ``rerank == 0``).
    """
    ksub = len(codebooks[0])
    encoded = corpus if code_col in corpus.columns else pq_encode(
        corpus, codebooks, corpus_vec, code_col
    )
    q = _with_lut(queries.select(query_id, query_vec), codebooks, query_vec, "__lut")

    # narrow scoring relation: (query, neighbor, adc) — corpus floats never move
    scored = (
        encoded.select(F.col(corpus_id).alias("neighbor_id"), code_col)
        .crossJoin(F.broadcast(q.select(query_id, "__lut")))
        .select(query_id, "neighbor_id", F.round(_adc(code_col, ksub), 6).alias("adc"))
    )
    return _approx_topk(
        scored, "adc", k, rerank, corpus, queries, corpus_id, corpus_vec, query_id, query_vec
    )


# --------------------------------------------------------------- SQ8
# Scalar (per-dimension) 8-bit quantization — the OTHER classic vector
# compression (FAISS ``SQ8``).  Where PQ learns codebooks (k-means →
# pandas UDFs, engine-specific), SQ8 is closed-form: per-dim min/max →
# 256 uniform levels.  Everything below is pure Catalyst expressions, so
# the whole path — training, encoding, ADC scoring, re-rank — replays
# bit-identically in the DuckDB oracle (unlike PQ/IVF, which are
# rows-only checked).  4× smaller than float32, exact re-rank recovers
# true cosine order for the top candidates.


def sq8_minmax_panel(corpus: DataFrame, vec_col: str, dims: int) -> DataFrame:
    """Train the SQ8 quantizer: ONE aggregate over the corpus producing a
    1-row panel ``(__mins: array<double>, __spans: array<double>)``.

    Per-dim min/max come from ``2 × dims`` scalar aggregates over
    ``element_at`` projections — map-side-partial, no explode (an
    explode would shuffle rows × dims), no driver action.  Vectors are
    L2-normalized first so the code range covers the unit sphere and
    ADC approximates cosine.  Zero-span dims quantize to 0 via a
    span floor of 1.0 (any constant works: dequantized midpoints then
    cancel in the re-rank).
    """
    unit = corpus.select(l2_normalize(vec_col).alias("__u"))
    mins = [F.min(F.element_at("__u", i + 1)) for i in range(dims)]
    maxs = [F.max(F.element_at("__u", i + 1)) for i in range(dims)]
    return unit.agg(
        F.array(*mins).alias("__mins"),
        F.zip_with(
            F.array(*maxs),
            F.array(*mins),
            lambda hi, lo: F.when(hi - lo > 0.0, hi - lo).otherwise(F.lit(1.0)),
        ).alias("__spans"),
    )


def sq8_encode(
    df: DataFrame,
    panel: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "sq8_code",
) -> DataFrame:
    """Append ``array<int>`` SQ8 codes: ``floor((x−min)/span·256)``
    clamped to [0, 255] on the unit-normalized vector.

    ``floor`` (not round) because its semantics are identical across
    engines — no banker's-rounding ambiguity for the oracle.  The panel
    is a 1-row broadcast (the same fold-in shape as ``mips_lsh_topk``'s
    max-norm panel), so encoding is a narrow map over the corpus —
    encode once, persist, reuse across query batches.
    """
    code = F.expr(
        f"transform(__unit, (x, j) -> least(255, greatest(0, "
        f"CAST(floor((x - element_at(__mins, j + 1)) / element_at(__spans, j + 1) "
        f"* 256.0D) AS INT))))"
    )
    return (
        df.withColumn("__unit", l2_normalize(vec_col))
        .crossJoin(F.broadcast(panel))
        .withColumn(code_col, code)
        .drop("__unit", "__mins", "__spans")
    )


def sq8_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    k: int = 10,
    rerank: int = 0,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    code_col: str = "sq8_code",
    panel: "DataFrame | None" = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance over SQ8 codes, with
    optional exact cosine re-rank — `v_ann_bruteforce`'s shape (broadcast
    query panel × one corpus scan, zero corpus shuffle) but each corpus
    row is scored through its 64 one-byte codes instead of floats.

    ADC score = Σⱼ q̂ⱼ · (minⱼ + (cⱼ + 0.5)·spanⱼ/256) — midpoint
    dequantization, folded in one ``aggregate`` that stays in
    whole-stage codegen.  With ``rerank = r`` the top-r candidates per
    query re-score with exact cosine and the final k keep exact values.

    Output: ``query_id, neighbor_id, cosine, rank``.
    """
    if panel is None:
        panel = sq8_minmax_panel(corpus, corpus_vec, dims)
    encoded = corpus if code_col in corpus.columns else sq8_encode(
        corpus, panel, corpus_vec, code_col
    )
    q = queries.select(query_id, l2_normalize(query_vec).alias("__q"))

    # dequantize ONCE per corpus row (midpoint reconstruction), then each
    # query pairs via a plain dot fold — the per-(row × query) work drops
    # from 3 array indexings per dim to one multiply-add, and the dequant
    # cost amortizes over the whole query batch.  Same IEEE expression
    # tree per element as the fused form, so the oracle is unchanged.
    xhat = F.expr(
        f"transform({code_col}, (c, j) -> element_at(__mins, j + 1) + "
        f"(CAST(c AS DOUBLE) + 0.5D) * element_at(__spans, j + 1) / 256.0D)"
    )
    adc = F.expr("aggregate(zip_with(__q, __xhat, (x, y) -> x * y), 0.0D, (a, v) -> a + v)")
    scored = (
        encoded.select(F.col(corpus_id).alias("neighbor_id"), code_col)
        .crossJoin(F.broadcast(panel))
        .withColumn("__xhat", xhat)
        .drop(code_col, "__mins", "__spans")
        .crossJoin(F.broadcast(q))
        .select(query_id, "neighbor_id", F.round(adc, 6).alias("adc"))
    )
    return _approx_topk(
        scored, "adc", k, rerank, corpus, queries, corpus_id, corpus_vec, query_id, query_vec
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    nprobe: int = 2,
    rerank: int = 0,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF + PQ — the classic FAISS ``IVFPQ`` composition on DataFrames.

    The two approximations are orthogonal and multiply: IVF restricts
    WHICH rows each query scores (probe the ``nprobe`` nearest centroid
    lists → ~nprobe/k_lists of the corpus), PQ compresses WHAT each
    scored row costs (ADC over codes instead of a 64-float dot).  The
    probed join replaces ``pq_adc_topk``'s full cross join, so the
    scoring relation shrinks from |corpus|×|Q| to |corpus|×|Q|×nprobe/
    k_lists — at 100 TB that is the difference between a full-corpus
    scan per query batch and touching only the probed partitions
    (bucket the physical layout by ``ivf_list`` and partition pruning
    does the skip).

    Encode-once contract: if ``corpus`` already carries ``code_col``
    and ``ivf_list`` (a persisted index table), both are reused.
    """
    ksub = len(codebooks[0])
    indexed = corpus
    if "ivf_list" not in indexed.columns:
        indexed = ivf_assign(indexed, centroids, corpus_vec, "ivf_list")
    if code_col not in indexed.columns:
        indexed = pq_encode(indexed, codebooks, corpus_vec, code_col)

    probed = ivf_probes(queries, centroids, nprobe, query_id, query_vec)
    q = _with_lut(probed, codebooks, query_vec, "__lut")

    scored = (
        indexed.select(F.col(corpus_id).alias("neighbor_id"), code_col, "ivf_list")
        .join(F.broadcast(q.select(query_id, "__lut", "ivf_list")), "ivf_list")
        .select(query_id, "neighbor_id", F.round(_adc(code_col, ksub), 6).alias("adc"))
    )
    return _approx_topk(
        scored, "adc", k, rerank, corpus, queries, corpus_id, corpus_vec, query_id, query_vec
    )


# ---------------------------------------------------- random projection (JL)
def rp_signs(dims: int, m: int, seed: int = 42) -> "list[list[float]]":
    """Deterministic ±1 projection matrix (m rows × dims cols) from md5
    parity — the Achlioptas (2003) database-friendly Johnson-Lindenstrauss
    construction with a sign matrix any engine can regenerate: entry
    (j, i) is +1 when the first hex digit of ``md5("rp_<seed>_<j>_<i>")``
    is even.  No RNG state, so the Spark side, retries, and the SQL
    oracle all inline the identical literals.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"rp_{seed}_{j}_{i}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for i in range(dims)
        ]
        for j in range(m)
    ]


def rp_project(
    df: DataFrame,
    signs: "list[list[float]]",
    vec_col: str = "embedding",
    out_col: str = "rp_proj",
) -> DataFrame:
    """Append the m-dim signed projection of the L2-normalized vector:
    ``proj[j] = Σᵢ û[i] · sign[j][i]`` — a narrow per-row map (one
    ``transform``/``aggregate`` fold per row, no shuffle, no Python).
    At 100 TB this is the dimensionality-reduction pass you run ONCE and
    persist: downstream scoring touches m doubles per row instead of
    dims (2× fewer for 64→32), with JL-lemma distance distortion bounds.

    The sign matrix rides in as a 1-row broadcast DataFrame, NOT as
    expression literals: an m × dims literal tree (2048 nodes at 32×64)
    costs ~15 s of Catalyst analysis/optimization PER PLAN — as data it
    is a few KB broadcast and the plan stays constant-size.
    """
    spark = df.sparkSession
    sm = spark.createDataFrame(
        [([list(map(float, row)) for row in signs],)],
        "__signs array<array<double>>",
    )
    proj = F.expr(
        "transform(__signs, row -> "
        "aggregate(zip_with(row, __unit, (s, x) -> s * x), 0.0D, (a, v) -> a + v))"
    )
    return (
        df.withColumn("__unit", l2_normalize(vec_col))
        .crossJoin(F.broadcast(sm))
        .withColumn(out_col, proj)
        .drop("__unit", "__signs")
    )


def rp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dims: int,
    m: int = 16,
    k: int = 10,
    rerank: int = 0,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k by cosine in the random-projection space, with
    optional exact cosine re-rank — the cheapest rung of the ANN ladder
    (below SQ8: no training pass at all, just a hash-derived sign fold).

    Scoring is projected cosine (dot of projections over norm product;
    degenerate zero-norm projections score 0), rounded to 6 dp with id
    tie-break so ordering is engine-deterministic.  Shape: broadcast
    query panel × one corpus scan of m-dim projections — zero corpus
    shuffle; with ``rerank = r`` the top-r candidates per query re-score
    with exact cosine over the original vectors (broadcast semi-join).

    Output: ``query_id, neighbor_id, cosine, rank``.
    """
    signs = rp_signs(dims, m, seed)
    # lazy localCheckpoint barrier: fused with the broadcast cross join,
    # the m x dims projection fold would re-evaluate once per (corpus row
    # x query) pair instead of once per corpus row (measured ~10x on the
    # bench corpus) — the same Generate/Join re-evaluation class as
    # winnowing_fingerprints' explode
    enc = rp_project(
        corpus.select(F.col(corpus_id).alias("neighbor_id"), corpus_vec),
        signs,
        corpus_vec,
        "__pc",
    ).select("neighbor_id", "__pc").localCheckpoint(eager=False)
    q = rp_project(
        queries.select(query_id, query_vec), signs, query_vec, "__pq"
    ).select(query_id, "__pq")

    def _norm(col: str):
        return F.sqrt(
            F.aggregate(F.col(col), F.lit(0.0), lambda a, x: a + x * x)
        )

    dot = F.expr("aggregate(zip_with(__pq, __pc, (x, y) -> x * y), 0.0D, (a, v) -> a + v)")
    score = F.when(
        (_norm("__pq") > 0.0) & (_norm("__pc") > 0.0),
        dot / (_norm("__pq") * _norm("__pc")),
    ).otherwise(F.lit(0.0))
    scored = enc.crossJoin(F.broadcast(q)).select(
        query_id, "neighbor_id", F.round(score, 6).alias("proj_cosine")
    )
    return _approx_topk(
        scored, "proj_cosine", k, rerank, corpus, queries, corpus_id, corpus_vec, query_id,
        query_vec,
    )
