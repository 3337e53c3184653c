"""Graph analytics + portable-sketch catalog queries (the x_* family).

Split from the round-3..6 stats_graph suite (round-7 verdict #6) — pure
mechanical move, registry names and oracles unchanged.  Covers the
co-purchase graph family (triangles, BFS, LPA, k-core, assortativity,
Adamic-Adar, HITS, PPR, clustering, power-law CCDF, edge churn,
modularity) plus the mergeable-sketch algebra (KMV, HLL, histogram
quantiles) and Bloom-style join pruning.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64, portable_hash64_sql
from ..tables import load_table
from . import register

# ------------------------------------------------------ triangle counting
def _copurchase_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Support-2 part-co-purchase edge list (u < v), localCheckpointed.

    The edge list feeds many consumers (degree table, orientation, the
    closing-edge join, count panels, BFS frontiers); without lineage
    truncation Catalyst replicates the expensive pair self-join into
    every branch (measured: 72 FileScans / 147 Exchanges in the composed
    triangle plan).  localCheckpoint materializes it once — the same
    pattern the connected-components machinery uses (operators/graph.py).
    """
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    edges = (
        pairs.groupBy("u", "v").agg(F.count("*").alias("c")).where("c >= 2").drop("c")
    )
    return edges.localCheckpoint()


@register(
    "x_triangle_count",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey),
edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges) __n
        GROUP BY node),
oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
okey AS (SELECT o.src, o.dst, d.deg AS dst_deg
         FROM oriented o JOIN deg d ON o.dst = d.node),
wedges AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM okey e1 JOIN okey e2 ON e1.src = e2.src
  WHERE e1.dst_deg < e2.dst_deg OR (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst)),
tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS triangles
        FROM wedges w JOIN oriented o ON w.b = o.src AND w.c = o.dst)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS wedges,
       (SELECT triangles FROM tri) AS triangles
""",
    doc="triangle count over the part-co-purchase graph (parts co-ordered "
    "in >= 2 distinct orders), via DEGREE-ORIENTED wedge closure (Suri & "
    "Vassilvitskii 2011): orient every edge from its (degree, id)-smaller "
    "endpoint, enumerate ordered out-wedges per source, and close them "
    "against the oriented edge list — each triangle is produced exactly "
    "once from its minimum vertex.  Scale: the support-2 HAVING filter "
    "is a partial-agg'd density control on the pair stream; orientation "
    "bounds per-node wedge fan-out by O(sqrt(m)) so hub parts cannot "
    "melt one reducer (the 'curse of the last reducer'); all joins are "
    "node-keyed equi-joins.",
)
def x_triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        # deg has FOUR consumers (both orientation legs, the dst_deg
        # join, the nodes count) and alias-renamed legs get no exchange
        # reuse — lazy checkpoint computes the degree agg once; the
        # first consumer materializes it, the rest read the blocks.
        .localCheckpoint(eager=False)
    )
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    # oriented is likewise read three times (both wedge arms + closing);
    # lazy for the same reason — no separate blocking job to build it.
    oriented = oriented.localCheckpoint(eager=False)
    okey = oriented.join(
        deg.withColumnRenamed("node", "dst").withColumnRenamed("deg", "dst_deg"), "dst"
    )
    e1 = okey.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_deg").alias("bd")
    )
    e2 = okey.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dst_deg").alias("cd")
    )
    wedges = e1.join(e2, "a").where(
        (F.col("bd") < F.col("cd")) | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
    ).select("a", "b", "c")
    closing = oriented.withColumnRenamed("src", "b").withColumnRenamed("dst", "c")
    tri = wedges.join(closing, ["b", "c"]).agg(F.count("*").alias("triangles"))
    counts = (
        deg.agg(F.count("*").alias("nodes"))
        .crossJoin(edges.agg(F.count("*").alias("edges")))
        .crossJoin(wedges.agg(F.count("*").alias("wedges")))
        .crossJoin(tri)
    )
    return counts.select("nodes", "edges", "wedges", "triangles")
# ------------------------------------------------------ Bloom-style pruning
_BLOOM_BUCKETS = 8192


@register(
    "x_bloom_join_prune",
    oracle=f"""
WITH dim AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
buckets AS (SELECT DISTINCT
              {portable_hash64_sql("CAST(c_custkey AS VARCHAR)")} % {_BLOOM_BUCKETS} AS b
            FROM dim),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_rows FROM orders),
cand AS (SELECT CAST(COUNT(*) AS BIGINT) AS candidate_rows FROM orders
         WHERE {portable_hash64_sql("CAST(o_custkey AS VARCHAR)")} % {_BLOOM_BUCKETS}
               IN (SELECT b FROM buckets)),
tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS matched_rows FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM dim))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dim) AS dim_keys,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM buckets) AS buckets_set,
       total_rows, candidate_rows, matched_rows,
       candidate_rows - matched_rows AS false_positive_rows,
       FLOOR(CAST(candidate_rows - matched_rows AS DOUBLE)
             / candidate_rows * 1000000 + 0.5) / 1000000 AS fp_rate,
       FLOOR((1.0 - CAST(candidate_rows AS DOUBLE) / total_rows) * 1000000 + 0.5)
         / 1000000 AS scan_reduction
FROM tot, cand, tru
""",
    doc="Bloom-style pre-shuffle pruning audit: project the BUILDING-"
    "segment customer keys into a fixed 8192-bucket hash space, prune "
    "the orders fact on bucket membership BEFORE any key shuffle, and "
    "compare against the true semi-join — reporting false-positive rate "
    "and scan reduction, i.e. exactly the trade Spark's runtime bloom "
    "filters / dynamic partition pruning make.  Scale: the bucket panel "
    "is at most 8192 values regardless of dim cardinality (broadcast, "
    "never shuffled); the fact side is scanned once per count with the "
    "membership test map-side; counts are partial-agg'd.",
)
def x_bloom_join_prune(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    dim = load_table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    bucket_of = lambda col: portable_hash64(F.col(col).cast("string")) % _BLOOM_BUCKETS  # noqa: E731
    buckets = dim.select(bucket_of("c_custkey").alias("b")).distinct()
    cand = (
        orders.join(
            F.broadcast(buckets),
            bucket_of("o_custkey") == F.col("b"),
            "left_semi",
        ).agg(F.count("*").alias("candidate_rows"))
    )
    tru = orders.join(
        F.broadcast(dim), orders.o_custkey == dim.c_custkey, "left_semi"
    ).agg(F.count("*").alias("matched_rows"))
    panel = (
        dim.agg(F.count("*").alias("dim_keys"))
        .crossJoin(buckets.agg(F.count("*").alias("buckets_set")))
        .crossJoin(orders.agg(F.count("*").alias("total_rows")))
        .crossJoin(cand)
        .crossJoin(tru)
    )
    fp = F.col("candidate_rows") - F.col("matched_rows")
    return panel.select(
        "dim_keys",
        "buckets_set",
        "total_rows",
        "candidate_rows",
        "matched_rows",
        fp.alias("false_positive_rows"),
        (
            F.floor(fp.cast("double") / F.col("candidate_rows") * 1000000 + 0.5)
            / 1000000
        ).alias("fp_rate"),
        (
            F.floor(
                (1.0 - F.col("candidate_rows").cast("double") / F.col("total_rows"))
                * 1000000
                + 0.5
            )
            / 1000000
        ).alias("scan_reduction"),
    )
# ------------------------------------------------------ BFS reach levels
_EDGES_CTE = """li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey),
edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2)"""

_BFS_DEPTH = 3
_BFS_SEEDS = 4


@register(
    "x_bfs_levels",
    oracle=f"""
WITH RECURSIVE {_EDGES_CTE},
adj AS (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM adj GROUP BY src),
seeds AS (SELECT node FROM deg ORDER BY deg DESC, node LIMIT {_BFS_SEEDS}),
walk(node, lvl) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT a.dst, w.lvl + 1
  FROM walk w JOIN adj a ON w.node = a.src
  WHERE w.lvl < {_BFS_DEPTH}),
reached AS (SELECT node, CAST(MIN(lvl) AS BIGINT) AS lvl FROM walk GROUP BY node)
SELECT lvl AS level,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS node_checksum
FROM reached GROUP BY lvl ORDER BY level
""",
    doc="breadth-first reach levels from the 4 highest-degree hub parts "
    "over the support-2 co-purchase graph, depth 3 — the 'blast radius' "
    "walk behind recall/contamination spread audits.  Spark runs true "
    "frontier BFS (per-level distinct + left-anti against the visited "
    "set, localCheckpoint per level, one bounded loop); the oracle is a "
    "recursive CTE whose MIN(lvl) aggregation recovers the identical "
    "first-reached-level semantics.  Scale: each level is one equi-join "
    "on the frontier + one distinct + one anti-join — all partial-agg'd "
    "node-keyed shuffles; the visited set stays key-only; depth bounds "
    "the loop, and per-level checkpoints keep lineage O(1).",
)
def x_bfs_levels(spark: SparkSession, sf: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf)
    adj = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint()
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    seeds = (
        deg.orderBy(F.col("deg").desc(), "node").limit(_BFS_SEEDS).select("node")
    )
    visited = seeds.select("node", F.lit(0).alias("lvl")).localCheckpoint()
    frontier = visited.select("node")
    for lvl in range(1, _BFS_DEPTH + 1):
        frontier = (
            frontier.join(adj, frontier.node == adj.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            # LAZY: the final level aggregate is the only action — it
            # materializes every level's checkpoint in one job instead
            # of one blocking job per level (lineage still truncated).
            .localCheckpoint(eager=False)
        )
        # visited is a union of already-checkpointed frontiers — its
        # lineage stays depth-bounded without another materialization
        visited = visited.unionAll(frontier.select("node", F.lit(lvl).alias("lvl")))
    return (
        visited.groupBy(F.col("lvl").cast("long").alias("level"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("node").alias("node_checksum"),
        )
        .orderBy("level")
    )
# ------------------------------------------- mergeable histogram quantiles
_HQ_BINS = 256


@register(
    "x_histogram_quantiles",
    oracle=f"""
WITH span AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders),
b AS (
  SELECT o_orderstatus AS status,
         LEAST({_HQ_BINS - 1},
               CAST(FLOOR((o_totalprice - span.lo) / (span.hi - span.lo)
                          * {_HQ_BINS}) AS BIGINT)) AS bin
  FROM orders, span),
h AS (SELECT status, bin, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY status, bin),
n AS (SELECT status, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY status),
cum AS (
  SELECT h.status, h.bin, h.c, n.n,
         CAST(SUM(h.c) OVER (PARTITION BY h.status ORDER BY h.bin) AS BIGINT) AS cc
  FROM h JOIN n ON h.status = n.status),
qs AS (SELECT * FROM (VALUES (0.5), (0.95)) v(q)),
hit AS (
  SELECT status, q, bin,
         ROW_NUMBER() OVER (PARTITION BY status, q ORDER BY bin) AS rk
  FROM cum CROSS JOIN qs WHERE cc >= q * n),
est AS (
  SELECT h.status, h.q,
         span.lo + (h.bin + 0.5) * (span.hi - span.lo) / {_HQ_BINS} AS est
  FROM hit h, span WHERE h.rk = 1),
exact AS (
  SELECT o_orderstatus AS status,
         ROUND(quantile_cont(o_totalprice, 0.5), 2) AS x50,
         ROUND(quantile_cont(o_totalprice, 0.95), 2) AS x95
  FROM orders GROUP BY o_orderstatus)
SELECT e.status, e.q AS quantile,
       FLOOR(e.est * 100 + 0.5) / 100 AS histogram_estimate,
       CASE WHEN e.q = 0.5 THEN x.x50 ELSE x.x95 END AS exact_value,
       FLOOR(ABS(e.est - CASE WHEN e.q = 0.5 THEN x.x50 ELSE x.x95 END)
             * 100 + 0.5) / 100 AS abs_err
FROM est e JOIN exact x ON e.status = x.status
ORDER BY e.status, e.q
""",
    doc="mergeable equi-width histogram quantiles WITH an in-engine error "
    "audit: one min/max panel, one (status, bin) partial-agg'd count "
    "table (256 bins — commutative, mergeable across shards/days, the "
    "way percentiles survive 100 TB without a global sort), bin-midpoint "
    "estimates for p50/p95, and the exact `percentile` twin computed in "
    "the SAME query so the approximation error is part of the audited "
    "output (the d_lsh_recall_audit pattern applied to quantiles).  All "
    "windows partition by (status[, q]) over <= 256 bin rows.",
)
def x_histogram_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.histogram import (
        equi_width_histogram,
        histogram_quantiles,
        value_span,
    )

    o = load_table(spark, sf, "orders")
    base = o.select(F.col("o_orderstatus").alias("status"), "o_totalprice")
    span = value_span(base, "o_totalprice")
    h = equi_width_histogram(
        base, "o_totalprice", _HQ_BINS, group_cols=["status"], span=span
    )
    est = histogram_quantiles(
        spark, h, span, [0.5, 0.95], _HQ_BINS, group_cols=["status"]
    )
    exact = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("x50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 2).alias("x95"),
    )
    xval = F.when(F.col("q") == 0.5, F.col("x50")).otherwise(F.col("x95"))
    return (
        est.join(exact, "status")
        .select(
            "status",
            F.col("q").alias("quantile"),
            (F.floor(F.col("est") * 100 + 0.5) / 100).alias("histogram_estimate"),
            xval.alias("exact_value"),
            (F.floor(F.abs(F.col("est") - xval) * 100 + 0.5) / 100).alias("abs_err"),
        )
        .orderBy("status", "quantile")
    )
# ------------------------------------------------- KMV distinct sketch
_KMV_K = 64
_KMV_SALT = 64
_HASH_SPACE = 1 << 60


@register(
    "x_kmv_sketch",
    oracle=f"""
WITH dist AS (
  SELECT DISTINCT o_orderpriority,
         {portable_hash64_sql("CAST(o_custkey AS VARCHAR)")} AS h
  FROM orders),
exact AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS exact_distinct
  FROM dist GROUP BY o_orderpriority),
ranked AS (
  SELECT o_orderpriority, h,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
  FROM dist),
kth AS (
  SELECT o_orderpriority, h AS kth_min
  FROM ranked WHERE rn = {_KMV_K})
SELECT e.o_orderpriority,
       e.exact_distinct,
       CASE WHEN k.kth_min IS NULL THEN e.exact_distinct
            ELSE CAST(FLOOR({_KMV_K - 1}.0 * {_HASH_SPACE}.0 / k.kth_min)
                      AS BIGINT) END AS kmv_estimate,
       FLOOR(ABS(CAST(CASE WHEN k.kth_min IS NULL THEN e.exact_distinct
                           ELSE CAST(FLOOR({_KMV_K - 1}.0 * {_HASH_SPACE}.0
                                           / k.kth_min) AS BIGINT) END
                      AS DOUBLE) - e.exact_distinct)
             / e.exact_distinct * 10000 + 0.5) / 100 AS rel_err_pct
FROM exact e LEFT JOIN kth k ON e.o_orderpriority = k.o_orderpriority
ORDER BY e.o_orderpriority
""",
    doc="KMV (k-minimum-values) distinct-count sketch per order "
    "priority, audited against the exact count in the same query — the "
    "mergeable bottom-k sketch behind Theta/HLL-style cardinality "
    "pipelines (Bar-Yossef et al. 2002; estimate (k-1) * H / h_(k) on "
    "a 60-bit hash space).  Scale: the distinct (priority, hash) frame "
    "is a partial-aggregated dedup shuffle; the k smallest hashes per "
    "group are found with the salted two-phase top-k — a row_number "
    "window per (priority, hash mod 64) salt slice (each sees 1/64th "
    "of the group), then a second window over the <= 64*64-row "
    "candidate set — never one task per whole group.  The sketch is "
    "trivially mergeable (union of bottom-k sets -> bottom-k), which "
    "is what makes it the right cross-shard distinct estimator at "
    "100 TB.  Determinism: integer hashes, integer rank ties "
    "impossible (hashes are distinct by construction), and the "
    "estimate derives from exact integers through an IEEE-identical "
    "double tree.  Groups with fewer than k distinct values fall back "
    "to the exact count (the sketch holds them all), matching the "
    "textbook estimator.",
)
def x_kmv_sketch(spark: SparkSession, sf: str) -> DataFrame:
    dist = (
        load_table(spark, sf, "orders")
        .select(
            "o_orderpriority",
            portable_hash64(F.col("o_custkey").cast("string")).alias("h"),
        )
        .distinct()
        .localCheckpoint()
    )
    exact = dist.groupBy("o_orderpriority").agg(
        F.count("*").alias("exact_distinct")
    )
    w_salt = Window.partitionBy(
        "o_orderpriority", F.pmod(F.col("h"), F.lit(_KMV_SALT))
    ).orderBy("h")
    candidates = (
        dist.withColumn("rn1", F.row_number().over(w_salt))
        .where(F.col("rn1") <= _KMV_K)
        .drop("rn1")
    )
    w_group = Window.partitionBy("o_orderpriority").orderBy("h")
    kth = (
        candidates.withColumn("rn", F.row_number().over(w_group))
        .where(F.col("rn") == _KMV_K)
        .select("o_orderpriority", F.col("h").alias("kth_min"))
    )
    est = F.when(
        F.col("kth_min").isNull(), F.col("exact_distinct")
    ).otherwise(
        F.floor(
            F.lit(float(_KMV_K - 1)) * F.lit(float(_HASH_SPACE)) / F.col("kth_min")
        ).cast("long")
    )
    return (
        exact.join(F.broadcast(kth), "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            "exact_distinct",
            est.alias("kmv_estimate"),
            (
                F.floor(
                    F.abs(est.cast("double") - F.col("exact_distinct"))
                    / F.col("exact_distinct")
                    * 10000
                    + 0.5
                )
                / 100
            ).alias("rel_err_pct"),
        )
        .orderBy("o_orderpriority")
    )
# -------------------------------------------- KMV sketch set algebra
@register(
    "x_kmv_setops",
    oracle=f"""
WITH pop AS (
  SELECT DISTINCT
         CASE WHEN EXTRACT(YEAR FROM o_orderdate) = 1995 THEN 'a' ELSE 'b' END AS label,
         {portable_hash64_sql("CAST(o_custkey AS VARCHAR)")} AS h
  FROM orders
  WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)),
exact AS (
  SELECT CAST(COUNT(*) FILTER (WHERE in_a = 1) AS BIGINT) AS exact_a,
         CAST(COUNT(*) FILTER (WHERE in_b = 1) AS BIGINT) AS exact_b,
         CAST(COUNT(*) AS BIGINT) AS exact_union,
         CAST(COUNT(*) FILTER (WHERE in_a = 1 AND in_b = 1) AS BIGINT)
           AS exact_intersect
  FROM (SELECT h,
               MAX(CASE WHEN label = 'a' THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN label = 'b' THEN 1 ELSE 0 END) AS in_b
        FROM pop GROUP BY h) flags),
sketch AS (
  SELECT label, h,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY h) AS rn
  FROM pop QUALIFY rn <= {_KMV_K}),
per_label AS (
  SELECT s.label,
         CAST(COUNT(*) AS BIGINT) AS sz,
         MAX(CASE WHEN s.rn = {_KMV_K} THEN s.h END) AS kth
  FROM sketch s GROUP BY s.label),
ests AS (
  SELECT
    MAX(CASE WHEN label = 'a' THEN est END) AS est_a,
    MAX(CASE WHEN label = 'b' THEN est END) AS est_b
  FROM (SELECT label,
               CASE WHEN kth IS NULL THEN sz
                    ELSE CAST(FLOOR({_KMV_K - 1}.0 * {_HASH_SPACE}.0 / kth)
                              AS BIGINT) END AS est
        FROM per_label) e),
merged AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rnm
  FROM (SELECT DISTINCT h FROM sketch) mh),
mpanel AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_cnt,
         MAX(CASE WHEN rnm = {_KMV_K} THEN h END) AS kth_u
  FROM merged),
upanel AS (
  SELECT CASE WHEN kth_u IS NULL THEN m_cnt
              ELSE CAST(FLOOR({_KMV_K - 1}.0 * {_HASH_SPACE}.0 / kth_u)
                        AS BIGINT) END AS est_union,
         LEAST({_KMV_K}, m_cnt) AS denom
  FROM mpanel),
jpanel AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS j_num
  FROM merged m
  WHERE m.rnm <= {_KMV_K}
    AND EXISTS (SELECT 1 FROM sketch sa WHERE sa.label = 'a' AND sa.h = m.h)
    AND EXISTS (SELECT 1 FROM sketch sb WHERE sb.label = 'b' AND sb.h = m.h))
SELECT x.exact_a, x.exact_b, x.exact_union, x.exact_intersect,
       e.est_a, e.est_b, u.est_union,
       CAST(FLOOR(CAST(j.j_num AS DOUBLE) / u.denom * u.est_union) AS BIGINT)
         AS est_intersect,
       FLOOR(CAST(x.exact_intersect AS DOUBLE) / x.exact_union * 1000000 + 0.5)
         / 1000000 AS jaccard_exact,
       FLOOR(CAST(j.j_num AS DOUBLE) / u.denom * 1000000 + 0.5)
         / 1000000 AS jaccard_est
FROM exact x CROSS JOIN ests e CROSS JOIN upanel u CROSS JOIN jpanel j
""",
    doc="KMV sketch SET ALGEBRA over the 1995 vs 1996 customer sets, "
    "audited against exact counts in the same query: per-set bottom-k "
    "sketches merge into the union sketch (union of bottom-k sets -> "
    "bottom-k — the mergeability that makes KMV the cross-shard "
    "distinct estimator), the union cardinality comes from the merged "
    "kth minimum, the Jaccard similarity from the fraction of the "
    "merged bottom-k present in BOTH sketches, and the intersection "
    "via |A∩B| = J * |A∪B| (Beyer et al., SIGMOD 2007).  Scale: the "
    "exact branch is the audit; the sketch path reduces each set to "
    "<= k=64 rows via the salted two-phase bottom-k (the x_kmv_sketch "
    "shape), after which every join/window touches <= 2k rows.  Sets "
    "smaller than k fall back to their exact sketch size, per the "
    "textbook estimator.  Determinism: integer hashes and counts; the "
    "estimates derive through IEEE-identical double trees.",
)
def x_kmv_setops(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    pop = (
        o.where(F.year("o_orderdate").isin(1995, 1996))
        .select(
            F.when(F.year("o_orderdate") == 1995, "a").otherwise("b").alias("label"),
            portable_hash64(F.col("o_custkey").cast("string")).alias("h"),
        )
        .distinct()
        .localCheckpoint()
    )
    flags = pop.groupBy("h").agg(
        F.max(F.when(F.col("label") == "a", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("label") == "b", 1).otherwise(0)).alias("in_b"),
    )
    exact = flags.agg(
        F.sum("in_a").alias("exact_a"),
        F.sum("in_b").alias("exact_b"),
        F.count("*").alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("exact_intersect"),
    )
    w_salt = Window.partitionBy(
        "label", F.pmod(F.col("h"), F.lit(_KMV_SALT))
    ).orderBy("h")
    candidates = (
        pop.withColumn("rn1", F.row_number().over(w_salt))
        .where(F.col("rn1") <= _KMV_K)
        .drop("rn1")
    )
    w_label = Window.partitionBy("label").orderBy("h")
    sketch = (
        candidates.withColumn("rn", F.row_number().over(w_label))
        .where(F.col("rn") <= _KMV_K)
        .localCheckpoint()
    )
    kmv_est = lambda kth, sz: F.when(kth.isNull(), sz).otherwise(  # noqa: E731
        F.floor(
            F.lit(float(_KMV_K - 1)) * F.lit(float(_HASH_SPACE)) / kth
        ).cast("long")
    )
    per_label = sketch.groupBy("label").agg(
        F.count("*").alias("sz"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
    )
    ests = per_label.select(
        "label", kmv_est(F.col("kth"), F.col("sz")).alias("est")
    ).agg(
        F.max(F.when(F.col("label") == "a", F.col("est"))).alias("est_a"),
        F.max(F.when(F.col("label") == "b", F.col("est"))).alias("est_b"),
    )
    w_merged = Window.orderBy("h")  # <= 2k rows by construction
    merged = (
        sketch.select("h")
        .distinct()
        .withColumn("rnm", F.row_number().over(w_merged))
        .localCheckpoint()
    )
    mpanel = merged.agg(
        F.count("*").alias("m_cnt"),
        F.max(F.when(F.col("rnm") == _KMV_K, F.col("h"))).alias("kth_u"),
    )
    upanel = mpanel.select(
        kmv_est(F.col("kth_u"), F.col("m_cnt")).alias("est_union"),
        F.least(F.lit(_KMV_K), F.col("m_cnt")).alias("denom"),
    )
    sk_a = sketch.where(F.col("label") == "a").select("h")
    sk_b = sketch.where(F.col("label") == "b").select("h")
    jpanel = (
        merged.where(F.col("rnm") <= _KMV_K)
        .join(sk_a, "h", "left_semi")
        .join(sk_b, "h", "left_semi")
        .agg(F.count("*").alias("j_num"))
    )
    return (
        exact.crossJoin(F.broadcast(ests))
        .crossJoin(F.broadcast(upanel))
        .crossJoin(F.broadcast(jpanel))
        .select(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_intersect",
            "est_a",
            "est_b",
            "est_union",
            F.floor(
                F.col("j_num").cast("double") / F.col("denom") * F.col("est_union")
            )
            .cast("long")
            .alias("est_intersect"),
            (
                F.floor(
                    F.col("exact_intersect").cast("double")
                    / F.col("exact_union")
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("jaccard_exact"),
            (
                F.floor(
                    F.col("j_num").cast("double") / F.col("denom") * 1000000 + 0.5
                )
                / 1000000
            ).alias("jaccard_est"),
        )
    )
# ------------------------------------------------ label propagation (LPA)
_LPA_ROUNDS = 3


def _lpa_round_sql(prev: str, cur: str) -> str:
    """One synchronous min-label round as a chained CTE."""
    return (
        f"{cur} AS (SELECT a.src AS node, MIN(p.lbl) AS lbl "
        f"FROM adjp a JOIN {prev} p ON a.dst = p.node GROUP BY a.src)"
    )


@register(
    "x_label_propagation",
    oracle=f"""
WITH {_EDGES_CTE},
adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM adj),
adjp AS MATERIALIZED (SELECT src, dst FROM adj
         UNION ALL SELECT node, node FROM nodes),
l0 AS (SELECT node, node AS lbl FROM nodes),
{_lpa_round_sql('l0', 'l1')},
{_lpa_round_sql('l1', 'l2')},
{_lpa_round_sql('l2', 'l3')},
clusters AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz,
                    CAST(SUM(node) AS BIGINT) AS cks
             FROM l3 GROUP BY lbl)
SELECT sz AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(cks) AS BIGINT) AS node_checksum
FROM clusters GROUP BY sz ORDER BY cluster_size
""",
    doc="synchronous min-label propagation (3 rounds) over the support-2 "
    "co-purchase graph — the bounded-round community sketch that "
    "approaches connected components as rounds grow (labels reach "
    "distance-3 minima; operators/graph.py's star-contraction CC is the "
    "exact-fixpoint sibling).  Deterministic: min-label update has no "
    "tie-break ambiguity, so Spark and the chained-CTE oracle agree "
    "exactly.  Scale: each round is ONE node-keyed partial-agg'd "
    "shuffle (join labels to the self-looped adjacency, groupBy dst "
    "min), localCheckpoint per round keeps lineage O(1); rounds bound "
    "wall-clock, and the output is the cluster-size histogram, never "
    "per-node rows.",
)
def x_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf)
    labels = label_propagation(edges, rounds=_LPA_ROUNDS)
    clusters = labels.groupBy("lbl").agg(
        F.count("*").alias("sz"), F.sum("node").alias("cks")
    )
    return (
        clusters.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cks").alias("node_checksum"),
        )
        .orderBy("cluster_size")
    )
# ---------------------------------------------------- k-core peel
_KCORE_K = 3
_KCORE_ROUNDS = 5


def _kcore_round_sql(prev: str, cur: str) -> str:
    # AS MATERIALIZED: each round references the previous one TWICE, so
    # default CTE inlining is EXPONENTIAL in rounds (2^R copies of the
    # expensive pair self-join — observed as a DuckDB disk-spill blowup
    # at sf0.1); materialization makes the chain linear
    return (
        f"{cur} AS MATERIALIZED (SELECT a.src AS node FROM adj a "
        f"JOIN {prev} p1 ON a.src = p1.node "
        f"JOIN {prev} p2 ON a.dst = p2.node "
        f"GROUP BY a.src HAVING COUNT(*) >= {_KCORE_K})"
    )


@register(
    "x_kcore",
    oracle=f"""
WITH {_EDGES_CTE},
adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM adj),
{_kcore_round_sql('a0', 'a1')},
{_kcore_round_sql('a1', 'a2')},
{_kcore_round_sql('a2', 'a3')},
{_kcore_round_sql('a3', 'a4')},
{_kcore_round_sql('a4', 'a5')}
SELECT CAST((SELECT COUNT(*) FROM a5) AS BIGINT) AS n_core,
       CAST((SELECT COALESCE(SUM(node), 0) FROM a5) AS BIGINT) AS node_checksum,
       (SELECT COUNT(*) FROM a5) = (SELECT COUNT(*) FROM a4) AS converged
""",
    doc=f"{_KCORE_K}-core of the co-purchase graph by {_KCORE_ROUNDS}-round "
    "degree peeling: each round keeps nodes with ≥ k surviving "
    "neighbors.  BOTH engines run the identical FIXED round count (the "
    "chained-CTE oracle replays each peel exactly), and the output's "
    "`converged` flag certifies whether the last round was a fixpoint — "
    "honest bounded-round semantics rather than an unverifiable "
    "iterate-to-convergence claim.  Scale: each round is one "
    "node-keyed partial-agg'd shuffle over the alive-restricted edge "
    "list, localCheckpoint per round; round count bounds wall-clock "
    "exactly like the LPA sketch.",
)
def x_kcore(spark: SparkSession, sf: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf)
    adj = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint()
    )
    alive = adj.select(F.col("src").alias("node")).distinct().localCheckpoint()
    prev_n = None
    for _ in range(_KCORE_ROUNDS):
        prev = alive
        alive = (
            adj.join(alive.withColumnRenamed("node", "src"), "src")
            .join(alive.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= _KCORE_K)
            .select("node")
            # LAZY: no in-loop action or broadcast panel reads this, so
            # the caller's single action materializes every round's
            # checkpoint in ONE job instead of one blocking job per
            # round; both next-round join legs share the stored blocks.
            .localCheckpoint(eager=False)
        )
        prev_n = prev
    core = alive.agg(
        F.count("*").alias("n_core"),
        F.coalesce(F.sum("node"), F.lit(0)).alias("node_checksum"),
    )
    prev_count = prev_n.agg(F.count("*").alias("n_prev"))
    return core.crossJoin(F.broadcast(prev_count)).select(
        "n_core",
        "node_checksum",
        (F.col("n_core") == F.col("n_prev")).alias("converged"),
    )
# ------------------------------------------- degree assortativity
@register(
    "x_degree_assortativity",
    oracle=f"""
WITH {_EDGES_CTE},
adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
       FROM adj GROUP BY src),
ed AS (SELECT da.d AS dx, db.d AS dy
       FROM adj a JOIN deg da ON a.src = da.node
                  JOIN deg db ON a.dst = db.node),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
             SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
             SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
             SUM(CAST(dy AS HUGEINT) * dy) AS syy
      FROM ed)
SELECT n AS n_directed_edges,
       FLOOR((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
             * 1000000 + 0.5) / 1000000 AS assortativity
FROM m
""",
    doc="degree assortativity of the co-purchase graph: the Pearson "
    "correlation of endpoint degrees over the DIRECTED edge list "
    "(Newman 2002) — positive means hubs attach to hubs, the "
    "structural question behind skew-aware partitioning of a graph "
    "workload.  Five exact widened-integer moments in one reduce over "
    "the degree-joined edges; the statistic is a single mirrored float "
    "expression rounded at 1e-6.  Scale: one degree count + two "
    "node-keyed broadcast-able joins + a 1-row reduce; the symmetric "
    "edge list makes sx == sy, so r is symmetric by construction.",
)
def x_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf)
    adj = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint()
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    dx = deg.select(F.col("node").alias("src"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("dst"), F.col("d").alias("dy"))
    ed = adj.join(F.broadcast(dx), "src").join(F.broadcast(dy), "dst")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ed.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(dec(F.col("dx")) * F.col("dy")).alias("sxy"),
        F.sum(dec(F.col("dx")) * F.col("dx")).alias("sxx"),
        F.sum(dec(F.col("dy")) * F.col("dy")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    r = (d("sxy") - d("sx") * F.col("sy") / F.col("n")) / F.sqrt(
        (d("sxx") - d("sx") * F.col("sx") / F.col("n"))
        * (d("syy") - d("sy") * F.col("sy") / F.col("n"))
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        (F.floor(r * 1000000 + 0.5) / 1000000).alias("assortativity"),
    )
# -------------------------------------------- Adamic-Adar link prediction
_AA_DEG_CAP = 64
_AA_TOPK = 20


@register(
    "x_adamic_adar",
    oracle=f"""
WITH {_EDGES_CTE},
adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
       FROM adj GROUP BY src),
ctr AS (SELECT node, CAST(FLOOR(1000000.0 / LN(d) + 0.5) AS BIGINT) AS w_micro
        FROM deg WHERE d BETWEEN 2 AND {_AA_DEG_CAP}),
wedge AS (SELECT n1.dst AS a, n2.dst AS b, c.w_micro
          FROM adj n1 JOIN adj n2 ON n1.src = n2.src AND n1.dst < n2.dst
          JOIN ctr c ON n1.src = c.node),
cand AS (SELECT a, b, CAST(SUM(w_micro) AS BIGINT) AS score_micro,
                CAST(COUNT(*) AS BIGINT) AS n_common
         FROM wedge GROUP BY a, b),
new_pairs AS (SELECT cand.* FROM cand
              ANTI JOIN edges e ON cand.a = e.u AND cand.b = e.v)
SELECT a AS u, b AS v, n_common,
       ROUND(score_micro / 1000000.0, 6) AS aa_score
FROM new_pairs
ORDER BY score_micro DESC, a, b
LIMIT {_AA_TOPK}
""",
    doc="Adamic-Adar link prediction on the co-purchase graph: for each "
    "non-adjacent pair, sum 1/ln(deg) over common neighbors and emit "
    "the top candidates — the classic 'parts bought together but never "
    "in one order yet' recommender primitive.  Determinism: each "
    "center's weight is floor-quantized to integer micro-units BEFORE "
    "the wedge sum, so aggregation order cannot move the score; the "
    "ranking breaks ties on (u, v).  Scale: wedge fan-out is bounded "
    f"by capping center degree at {_AA_DEG_CAP} (hub-mediated wedges "
    "carry the smallest weights and all-pairs-through-a-hub is the "
    "quadratic blowup — the cap is the documented production guard); "
    "candidates reduce keyed by (a, b) with map-side partials, "
    "existing edges leave via left_anti, and the final top-k is a "
    "distributed TakeOrdered, never a global single-partition sort.",
)
def x_adamic_adar(spark: SparkSession, sf: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf).localCheckpoint()
    adj = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("d"))
    ctr = deg.where((F.col("d") >= 2) & (F.col("d") <= _AA_DEG_CAP)).select(
        "node",
        F.floor(F.lit(1000000.0) / F.log(F.col("d")) + 0.5)
        .cast("long")
        .alias("w_micro"),
    )
    n1 = adj.select(F.col("src").alias("ctr_node"), F.col("dst").alias("a"))
    n2 = adj.select(F.col("src").alias("ctr_node"), F.col("dst").alias("b"))
    wedge = (
        n1.join(n2, "ctr_node")
        .where(F.col("a") < F.col("b"))
        .join(F.broadcast(ctr), F.col("ctr_node") == F.col("node"))
        .select("a", "b", "w_micro")
    )
    cand = wedge.groupBy("a", "b").agg(
        F.sum("w_micro").alias("score_micro"), F.count("*").alias("n_common")
    )
    new_pairs = cand.join(
        edges,
        (cand.a == edges.u) & (cand.b == edges.v),
        "left_anti",
    )
    return (
        new_pairs.orderBy(F.col("score_micro").desc(), "a", "b")
        .limit(_AA_TOPK)
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "n_common",
            F.round(F.col("score_micro") / 1000000.0, 6).alias("aa_score"),
        )
    )
# ------------------------------------------------- HITS hubs/authorities
_HITS_ROUNDS = 4
_HITS_TOPK = 10


def _hits_round_sql(i: int) -> str:
    """One unrolled HITS round: authority pull, max-renorm, hub pull,
    max-renorm — all in HUGEINT with floor division, the exact integer
    recurrence of operators/graph.hits."""
    return f""",
a{i}raw AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM(h.s) AS HUGEINT) AS raw
  FROM edges e JOIN h{i - 1} h ON e.src = h.node GROUP BY 1),
a{i}mx AS (SELECT MAX(raw) AS m FROM a{i}raw),
a{i} AS MATERIALIZED (
  SELECT node, (raw * 1000000) // m AS s FROM a{i}raw CROSS JOIN a{i}mx),
h{i}raw AS MATERIALIZED (
  SELECT e.src AS node, CAST(SUM(a.s) AS HUGEINT) AS raw
  FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY 1),
h{i}mx AS (SELECT MAX(raw) AS m FROM h{i}raw),
h{i} AS MATERIALIZED (
  SELECT node, (raw * 1000000) // m AS s FROM h{i}raw CROSS JOIN h{i}mx)"""


@register(
    "x_hits_suppliers",
    oracle=f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS HUGEINT) AS s FROM edges)
{"".join(_hits_round_sql(i) for i in range(1, _HITS_ROUNDS + 1))}
SELECT role, CAST(node AS BIGINT) AS node, CAST(score_micro AS BIGINT) AS score_micro
FROM (
  SELECT 'authority' AS role, node, s AS score_micro
  FROM a{_HITS_ROUNDS} ORDER BY s DESC, node LIMIT {_HITS_TOPK})
UNION ALL
SELECT role, CAST(node AS BIGINT), CAST(score_micro AS BIGINT)
FROM (
  SELECT 'hub' AS role, node, s AS score_micro
  FROM h{_HITS_ROUNDS} ORDER BY s DESC, node LIMIT {_HITS_TOPK})
ORDER BY role, score_micro DESC, node
""",
    doc="HITS hubs and authorities (Kleinberg 1999) over the distinct "
    "customer->supplier order graph: authority = suppliers the heavy "
    "buyers concentrate on, hub = customers whose purchases point at "
    "authoritative suppliers (operators/graph.hits).  Unlike the "
    "rows-only pagerank, this iterative query is FULLY oracle-checked: "
    "scores iterate in exact integer micro-units (64-bit long sums, "
    "max-renormalization by exact integer floor division) so the "
    f"{_HITS_ROUNDS}-round recurrence replays bit-identically as "
    "unrolled HUGEINT SQL.  Scale: per half-round one score-onto-edges "
    "join + one partial-agg'd groupBy (the pagerank shuffle shape) and "
    "an eager localCheckpoint that truncates lineage, with the round's "
    "max read as an observe() metric during that checkpoint job; both "
    "top-k cuts are distributed TakeOrdered.",
)
def x_hits_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import hits

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    hubs, auths = hits(edges, iterations=_HITS_ROUNDS)
    top_a = (
        auths.orderBy(F.col("score_micro").desc(), "node")
        .limit(_HITS_TOPK)
        .select(F.lit("authority").alias("role"), "node", "score_micro")
    )
    top_h = (
        hubs.orderBy(F.col("score_micro").desc(), "node")
        .limit(_HITS_TOPK)
        .select(F.lit("hub").alias("role"), "node", "score_micro")
    )
    return (
        top_a.unionAll(top_h)
        .select(
            "role",
            F.col("node").cast("long").alias("node"),
            F.col("score_micro").cast("long").alias("score_micro"),
        )
        .orderBy("role", F.col("score_micro").desc(), "node")
    )
# ------------------------------------------- personalized PageRank (RWR)
_PPR_ROUNDS = 3
_PPR_TOPK = 10


def _ppr_round_sql(i: int) -> str:
    """One unrolled restart-walk round: per-edge floor-division push,
    inflow groupBy, full-outer with the seed restart panel — the exact
    integer recurrence of operators/graph.personalized_pagerank."""
    return f""",
in{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM((p.p * 85) // (100 * e.d)) AS HUGEINT) AS infl
  FROM edges e JOIN p{i - 1} p ON e.src = p.node GROUP BY 1),
p{i} AS MATERIALIZED (
  SELECT COALESCE(i.node, s.node) AS node,
         CAST(COALESCE(i.infl, 0)
              + CASE WHEN s.node IS NOT NULL THEN 1000000 ELSE 0 END AS HUGEINT) AS p
  FROM in{i} i FULL OUTER JOIN seeds s ON i.node = s.node)"""


@register(
    "x_ppr_segment",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000 AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
edges0 AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM base
  UNION ALL SELECT s AS src, c AS dst FROM base),
edges AS MATERIALIZED (
  SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS d FROM edges0),
seeds AS MATERIALIZED (
  SELECT c_custkey AS node FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
p0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS p FROM seeds)
{"".join(_ppr_round_sql(i) for i in range(1, _PPR_ROUNDS + 1))}
SELECT CAST(node - 1000000 AS BIGINT) AS suppkey, CAST(p AS BIGINT) AS score_micro
FROM p{_PPR_ROUNDS} WHERE node > 1000000
ORDER BY p DESC, node LIMIT {_PPR_TOPK}
""",
    doc="Personalized PageRank / random walk with restart (Haveliwala, "
    "WWW 2002) from the AUTOMOBILE customer segment over the "
    "symmetrized customer<->supplier order graph: which suppliers sit "
    "closest to that segment's purchase neighborhood?  Like "
    "x_hits_suppliers — and unlike the rows-only float pagerank — the "
    "walk runs in exact integer micro-units (per-edge floor-division "
    "push, seed restart re-injection, dangling absorption), so the "
    f"{_PPR_ROUNDS}-round recurrence replays bit-identically as "
    "unrolled HUGEINT SQL.  Scale: the score table stays SPARSE (only "
    "the <=k-hop seed frontier holds rows); each round is one "
    "score-onto-edges join + one partial-agg'd inflow groupBy + a "
    "node-keyed full-outer with the seed panel, localCheckpoint-ed; "
    "the top-k cut is distributed TakeOrdered.  "
    "(operators/graph.personalized_pagerank)",
)
def x_ppr_segment(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import personalized_pagerank

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + 1_000_000).alias("s"),
        )
        .distinct()
        # both symmetrization halves read this — lazy checkpoint runs
        # the orders x lineitem distinct join once, not twice
        .localCheckpoint(eager=False)
    )
    edges = base.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        base.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = (
        load_table(spark, sf, "customer")
        .where(F.col("c_mktsegment") == "AUTOMOBILE")
        .select(F.col("c_custkey").alias("node"))
    )
    scores = personalized_pagerank(edges, seeds, iterations=_PPR_ROUNDS)
    return (
        scores.where(F.col("node") > 1_000_000)
        .orderBy(F.col("score_micro").desc(), "node")
        .limit(_PPR_TOPK)
        .select(
            (F.col("node") - 1_000_000).cast("long").alias("suppkey"),
            F.col("score_micro").cast("long").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "suppkey")
    )
# ------------------------------------------------ exact-integer pagerank
_PREXACT_ROUNDS = 6
_PREXACT_TOPK = 20
_PREXACT_TELEPORT = (100 - 85) * 1_000_000 // 100


def _prexact_round_sql(i: int) -> str:
    """One unrolled full-PageRank round: 1-row (dangling, N) panel,
    per-edge floor-division push, inflow groupBy, teleport + dangling
    share per node — the exact integer recurrence of
    operators/graph.pagerank_exact."""
    return f""",
d{i} AS (
  SELECT CAST(85 * COALESCE(SUM(CASE WHEN deg = 0 THEN p END), 0) AS HUGEINT) AS dnum,
         CAST(100 * COUNT(*) AS HUGEINT) AS dden
  FROM p{i - 1}),
in{i} AS MATERIALIZED (
  SELECT e.dst AS node, CAST(SUM((p.p * 85) // (100 * e.d)) AS HUGEINT) AS infl
  FROM eddeg e JOIN p{i - 1} p ON e.src = p.node GROUP BY 1),
p{i} AS MATERIALIZED (
  SELECT nd.node, nd.deg,
         CAST({_PREXACT_TELEPORT} + d.dnum // d.dden
              + COALESCE(i.infl, 0) AS HUGEINT) AS p
  FROM nd CROSS JOIN d{i} d LEFT JOIN in{i} i ON nd.node = i.node)"""


@register(
    "x_pagerank_exact",
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey + 1000000 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
deg AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM base GROUP BY src),
nd AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(deg.d, 0) AS BIGINT) AS deg
  FROM (SELECT DISTINCT node FROM
        (SELECT src AS node FROM base UNION ALL SELECT dst FROM base) __u) n
  LEFT JOIN deg ON n.node = deg.src),
eddeg AS MATERIALIZED (
  SELECT b.src, b.dst, deg.d FROM base b JOIN deg ON b.src = deg.src),
p0 AS (SELECT node, deg, CAST(1000000 AS HUGEINT) AS p FROM nd)
{"".join(_prexact_round_sql(i) for i in range(1, _PREXACT_ROUNDS + 1))}
SELECT CAST(node - 1000000 AS BIGINT) AS suppkey, CAST(p AS BIGINT) AS score_micro
FROM p{_PREXACT_ROUNDS} WHERE node > 1000000
ORDER BY p DESC, node LIMIT {_PREXACT_TOPK}
""",
    doc="Full-semantics PageRank (Brin & Page 1998: uniform teleport + "
    "dangling-mass redistribution) over the distinct customer->supplier "
    "order graph, in EXACT integer micro-units — the hash-checked twin "
    "of the float x_pagerank_suppliers showcase.  Every term is integer "
    "floor division (per-edge push floor(p*85/(100*d)), constant "
    "teleport floor(15*scale/100), dangling share floor(85*dang/"
    f"(100*N))), so the {_PREXACT_ROUNDS}-round recurrence replays "
    "bit-identically as unrolled HUGEINT SQL and the whole iterative "
    "path — not just its row count — is value-hash-verified.  The float "
    "variant remains the probability-semantics operator (numpy-pinned); "
    "this one is the differential-testing form.  Scale: per round one "
    "score-onto-edges join + one partial-agg'd inflow groupBy and an "
    "eager localCheckpoint, with the dangling mass read as an exact "
    "observe() metric during that checkpoint job (N is measured once at "
    "setup); the top-k cut is distributed TakeOrdered.  "
    "(operators/graph.pagerank_exact)",
)
def x_pagerank_exact(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import pagerank_exact

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    scores = pagerank_exact(edges, iterations=_PREXACT_ROUNDS)
    return (
        scores.where(F.col("node") > 1_000_000)
        .orderBy(F.col("score_micro").desc(), "node")
        .limit(_PREXACT_TOPK)
        .select(
            (F.col("node") - 1_000_000).cast("long").alias("suppkey"),
            "score_micro",
        )
        .orderBy(F.col("score_micro").desc(), "suppkey")
    )


# -------------------------------------------- local clustering coefficient
_CLUST_TOPK = 10


@register(
    "x_clustering_topk",
    oracle=f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey),
edges AS MATERIALIZED (
  SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges) __n
  GROUP BY node),
oriented AS MATERIALIZED (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS src,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS dst
  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
okey AS (SELECT o.src, o.dst, d.deg AS dst_deg
         FROM oriented o JOIN deg d ON o.dst = d.node),
wedges AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM okey e1 JOIN okey e2 ON e1.src = e2.src
  WHERE e1.dst_deg < e2.dst_deg OR (e1.dst_deg = e2.dst_deg AND e1.dst < e2.dst)),
tri AS MATERIALIZED (
  SELECT w.a, w.b, w.c FROM wedges w
  JOIN oriented o ON w.b = o.src AND w.c = o.dst),
pernode AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_n
  FROM (SELECT unnest([a, b, c]) AS node FROM tri) GROUP BY node)
SELECT CAST(node AS BIGINT) AS node, tri_n, deg,
       CAST(2 * tri_n * 1000000 // (deg * (deg - 1)) AS BIGINT) AS clustering_micro
FROM (
  SELECT d.node, COALESCE(p.tri_n, 0) AS tri_n, d.deg
  FROM deg d LEFT JOIN pernode p ON d.node = p.node
  WHERE d.deg >= 2)
ORDER BY clustering_micro DESC, tri_n DESC, node
LIMIT {_CLUST_TOPK}
""",
    doc="per-node local clustering coefficient (Watts & Strogatz 1998) "
    "over the part-co-purchase graph: 2*triangles(v) / (deg(v)*(deg(v)-1)) "
    "in exact integer micro-units, top-k most-clustered parts — the "
    "node-level sequel to x_triangle_count's global census.  Each "
    "triangle from the degree-oriented wedge closure credits all three "
    "vertices (one explode, one node-keyed partial-agg'd count), so "
    "hub fan-out stays O(sqrt(m)) exactly as in the global count.  "
    "Top-k is a distributed TakeOrdered on the integer coefficient "
    "with (tri, node) tie-breaks.",
)
def x_clustering_topk(spark: SparkSession, sf: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
        .localCheckpoint()
    )
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint()
    )
    okey = oriented.join(
        deg.withColumnRenamed("node", "dst").withColumnRenamed("deg", "dst_deg"), "dst"
    )
    e1 = okey.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst_deg").alias("bd")
    )
    e2 = okey.select(
        F.col("src").alias("a"), F.col("dst").alias("c"), F.col("dst_deg").alias("cd")
    )
    wedges = (
        e1.join(e2, "a")
        .where(
            (F.col("bd") < F.col("cd"))
            | ((F.col("bd") == F.col("cd")) & (F.col("b") < F.col("c")))
        )
        .select("a", "b", "c")
    )
    closing = oriented.withColumnRenamed("src", "b").withColumnRenamed("dst", "c")
    tri = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_n"))
    )
    num = (
        2
        * F.coalesce("tri_n", F.lit(0)).cast("decimal(38,0)")
        * F.lit(1_000_000).cast("decimal(38,0)")
    )
    den = (F.col("deg") * (F.col("deg") - 1)).cast("decimal(38,0)")
    return (
        deg.join(pernode, "node", "left")
        .where(F.col("deg") >= 2)
        .select(
            F.col("node").cast("long").alias("node"),
            F.coalesce("tri_n", F.lit(0)).cast("long").alias("tri_n"),
            F.col("deg").cast("long").alias("deg"),
            ((num - num % den) / den).cast("long").alias("clustering_micro"),
        )
        .orderBy(F.col("clustering_micro").desc(), F.col("tri_n").desc(), "node")
        .limit(_CLUST_TOPK)
    )
# ----------------------------------------------- degree power-law (CCDF)
@register(
    "x_degree_powerlaw",
    oracle="""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey),
edges AS (SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
          SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges) __n
        GROUP BY node),
cells AS MATERIALIZED (
  SELECT deg AS k, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY 1),
panel AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
ccdf AS (
  SELECT k, p.n - (SUM(c) OVER (ORDER BY k) - c) AS surv
  FROM cells CROSS JOIN panel p),
xy AS (SELECT ln(CAST(k AS DOUBLE)) AS x, ln(CAST(surv AS DOUBLE)) AS y FROM ccdf),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM xy)
SELECT (SELECT n FROM panel) AS n_nodes,
       m.n AS n_degrees,
       FLOOR((1 - (m.n * sxy - sx * sy) / (m.n * sxx - sx * sx)) * 10000 + 0.5)
         / 10000 AS powerlaw_alpha,
       FLOOR((m.n * sxy - sx * sy) * (m.n * sxy - sx * sy)
             / ((m.n * sxx - sx * sx) * (m.n * syy - sy * sy)) * 1000000 + 0.5)
         / 1000000 AS r2
FROM m
""",
    doc="graph-statistics law fit: the degree power-law exponent of the "
    "part-co-purchase graph, estimated from the empirical CCDF "
    "P(deg >= k) — ln-survival vs ln-degree OLS, alpha = 1 - slope "
    "(the CCDF estimator; it avoids the binning bias of raw histogram "
    "fits).  The survival counts are EXACT: per-degree cells, one "
    "ascending prefix (the two-phase distributed pass in the Spark "
    "plan, a window in the oracle), survival = n - exclusive prefix.  "
    "Scale: the graph reduces to per-degree cells (bounded by max "
    "degree) before any ordered pass; the OLS moment reduce follows "
    "the t_zipf_fit precision convention (mirrored ln, 1e-4/1e-6 "
    "rounding).",
)
def x_degree_powerlaw(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.packing import with_prefix_sum

    edges = _copurchase_edges(spark, sf)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    cells = deg.groupBy(F.col("deg").alias("k")).agg(F.count(F.lit(1)).alias("c"))
    panel = cells.agg(F.sum("c").cast("long").alias("n_nodes"))
    cum = with_prefix_sum(cells, "k", "c", out_col="cum_ex")
    xy = (
        cum.crossJoin(F.broadcast(panel))
        .select(
            F.log(F.col("k").cast("double")).alias("x"),
            F.log((F.col("n_nodes") - F.col("cum_ex")).cast("double")).alias("y"),
        )
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
    return m.crossJoin(F.broadcast(panel)).select(
        "n_nodes",
        F.col("n").alias("n_degrees"),
        (F.floor((1 - slope) * 10000 + 0.5) / 10000).alias("powerlaw_alpha"),
        (F.floor(r2 * 1000000 + 0.5) / 1000000).alias("r2"),
    )
# ------------------------------------------------------ temporal edge churn
@register(
    "x_edge_churn",
    oracle="""
WITH e94 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE EXTRACT(YEAR FROM o.o_orderdate) = 1994),
e95 AS MATERIALIZED (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE EXTRACT(YEAR FROM o.o_orderdate) = 1995),
ret AS (SELECT CAST(COUNT(*) AS BIGINT) AS retained
        FROM e94 JOIN e95 ON e94.c = e95.c AND e94.s = e95.s),
n94 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e94),
n95 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e95)
SELECT n94.n AS edges_1994, n95.n AS edges_1995, ret.retained,
       n95.n - ret.retained AS new_edges,
       n94.n - ret.retained AS lost_edges,
       CAST(ret.retained * 1000000 // (n94.n + n95.n - ret.retained) AS BIGINT)
         AS jaccard_micro
FROM ret CROSS JOIN n94 CROSS JOIN n95
""",
    doc="temporal graph diff: year-over-year churn of the distinct "
    "customer->supplier purchase relationship — retained / newly-formed "
    "/ lost edges between 1994 and 1995 and the exact Jaccard "
    "stability of the edge sets, the relationship-retention KPI b2b "
    "analytics tracks (and, generically, the snapshot-to-snapshot "
    "set-churn shape any versioned dataset audit needs).  Scale: two "
    "year-pruned distinct aggregates co-partitioned on the SAME "
    "(custkey, suppkey) key, so the retained-count join is "
    "shuffle-free under AQE reuse; counts are 1-row panels.",
)
def x_edge_churn(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")

    def year_edges(y: int) -> DataFrame:
        return (
            o.where(F.year("o_orderdate") == y)
            .join(li, o.o_orderkey == li.l_orderkey)
            .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
            .distinct()
        )

    e94, e95 = year_edges(1994), year_edges(1995)
    ret = e94.join(e95, ["c", "s"]).agg(F.count(F.lit(1)).cast("long").alias("retained"))
    n94 = e94.agg(F.count(F.lit(1)).cast("long").alias("edges_1994"))
    n95 = e95.agg(F.count(F.lit(1)).cast("long").alias("edges_1995"))
    res = ret.crossJoin(F.broadcast(n94)).crossJoin(F.broadcast(n95))
    num = F.col("retained").cast("decimal(38,0)") * F.lit(1_000_000).cast("decimal(38,0)")
    den = (
        F.col("edges_1994") + F.col("edges_1995") - F.col("retained")
    ).cast("decimal(38,0)")
    return res.select(
        "edges_1994",
        "edges_1995",
        "retained",
        (F.col("edges_1995") - F.col("retained")).alias("new_edges"),
        (F.col("edges_1994") - F.col("retained")).alias("lost_edges"),
        ((num - num % den) / den).cast("long").alias("jaccard_micro"),
    )
# ------------------------------------------------- community modularity
@register(
    "x_modularity",
    oracle=f"""
WITH {_EDGES_CTE},
adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges
        UNION ALL SELECT v AS src, u AS dst FROM edges),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM adj),
adjp AS MATERIALIZED (SELECT src, dst FROM adj
         UNION ALL SELECT node, node FROM nodes),
l0 AS (SELECT node, node AS lbl FROM nodes),
{_lpa_round_sql('l0', 'l1')},
{_lpa_round_sql('l1', 'l2')},
{_lpa_round_sql('l2', 'l3')},
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY src),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
comm AS (SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS n_nodes,
                CAST(SUM(deg.d) AS BIGINT) AS degree_sum
         FROM l3 l JOIN deg ON deg.node = l.node GROUP BY l.lbl),
intra AS (SELECT la.lbl, CAST(COUNT(*) AS BIGINT) AS ie
          FROM edges e
          JOIN l3 la ON e.u = la.node
          JOIN l3 lb ON e.v = lb.node AND la.lbl = lb.lbl
          GROUP BY la.lbl)
SELECT c.lbl AS community, c.n_nodes,
       CAST(COALESCE(i.ie, 0) AS BIGINT) AS internal_edges, c.degree_sum,
       FLOOR((CAST(COALESCE(i.ie, 0) AS DOUBLE) / mm.m
              - (CAST(c.degree_sum AS DOUBLE) / (2 * mm.m))
                * (CAST(c.degree_sum AS DOUBLE) / (2 * mm.m))) * 1000000 + 0.5)
         / 1000000 AS q_contrib
FROM comm c LEFT JOIN intra i ON i.lbl = c.lbl CROSS JOIN mm
ORDER BY community
""",
    doc="Newman modularity decomposition of the label-propagation "
    "communities over the support-2 co-purchase graph: per community, "
    "Q_c = e_c/m - (D_c/2m)^2 where e_c is the exact intra-community "
    "edge count, D_c the community degree sum, m the edge count — the "
    "quality audit that tells you whether the bounded-round LPA sketch "
    "found real structure (sum of q_contrib = global modularity Q; "
    "near 0 means the partition is no better than random wiring).  "
    "Determinism: communities replay the same synchronous min-label "
    "rounds as x_label_propagation; e_c, D_c, m are exact integers and "
    "the one float expression is a mirrored IEEE tree, floor-rounded.  "
    "Scale: degrees are one partial-agg'd shuffle over the edge list; "
    "intra-edges is a node-keyed double label join (edge-list sized, "
    "never all-pairs); the edge count rides a broadcast 1-row panel.",
)
def x_modularity(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import label_propagation

    edges = _copurchase_edges(spark, sf)
    labels = label_propagation(edges, rounds=_LPA_ROUNDS).localCheckpoint()
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    comm = (
        labels.join(deg, "node")
        .groupBy("lbl")
        .agg(F.count("*").alias("n_nodes"), F.sum("d").alias("degree_sum"))
    )
    la = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lbl_u"))
    lb = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lbl_v"))
    intra = (
        edges.join(la, "u")
        .join(lb, "v")
        .where(F.col("lbl_u") == F.col("lbl_v"))
        .groupBy(F.col("lbl_u").alias("lbl"))
        .agg(F.count("*").alias("ie"))
    )
    mm = edges.agg(F.count(F.lit(1)).alias("m"))
    half = F.col("degree_sum").cast("double") / (2 * F.col("m"))
    return (
        comm.join(intra, "lbl", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            F.col("lbl").alias("community"),
            "n_nodes",
            F.coalesce(F.col("ie"), F.lit(0)).cast("long").alias("internal_edges"),
            "degree_sum",
            (
                F.floor(
                    (
                        F.coalesce(F.col("ie"), F.lit(0)).cast("double") / F.col("m")
                        - half * half
                    )
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("q_contrib"),
        )
        .orderBy("community")
    )
# --------------------------------------------- portable HLL sketch
def _bitlen54_sql(w: str) -> str:
    """Exact integer bit-length of a 54-bit value as a comparison chain —
    no float log2, so both engines agree bit-for-bit."""
    return "(" + " + ".join(
        f"(CASE WHEN {w} >= {1 << b} THEN 1 ELSE 0 END)" for b in range(54)
    ) + ")"


_HLL_M = 64
# alpha_64 * m^2 * 2^55 — ONE shared double literal, so both engines run
# the identical IEEE division against the exact integer register sum
_HLL_C = repr(0.7213 / (1 + 1.079 / 64) * 4096 * float(1 << 55))


@register(
    "x_hll_portable",
    oracle=f"""
WITH rows_h AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         user_id,
         {portable_hash64_sql("CAST(user_id AS VARCHAR)")} AS h
  FROM events),
reg_in AS (
  SELECT event_type, day, h % {_HLL_M} AS bucket,
         55 - {_bitlen54_sql(f"(h // {_HLL_M})")} AS rho
  FROM rows_h),
daily AS (
  SELECT event_type, day, bucket, MAX(rho) AS mj
  FROM reg_in GROUP BY 1, 2, 3),
merged AS (
  SELECT event_type, bucket, MAX(mj) AS mj FROM daily GROUP BY 1, 2),
direct AS (
  SELECT event_type, bucket, MAX(rho) AS mj FROM reg_in GROUP BY 1, 2),
est_m AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - mj AS INT)) AS BIGINT)
           + ({_HLL_M} - COUNT(*)) * {1 << 55} AS s,
         {_HLL_M} - CAST(COUNT(*) AS BIGINT) AS v
  FROM merged GROUP BY 1),
est_d AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - mj AS INT)) AS BIGINT)
           + ({_HLL_M} - COUNT(*)) * {1 << 55} AS s,
         {_HLL_M} - CAST(COUNT(*) AS BIGINT) AS v
  FROM direct GROUP BY 1),
ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1)
SELECT ex.event_type, ex.exact_users,
       FLOOR((CASE WHEN {_HLL_C} / d.s <= 160.0 AND d.v > 0
                   THEN 64.0 * ln(64.0 / d.v)
                   ELSE {_HLL_C} / d.s END) * 1000000 + 0.5) / 1000000
         AS hll_direct,
       FLOOR((CASE WHEN {_HLL_C} / m.s <= 160.0 AND m.v > 0
                   THEN 64.0 * ln(64.0 / m.v)
                   ELSE {_HLL_C} / m.s END) * 1000000 + 0.5) / 1000000
         AS hll_merged,
       FLOOR(ABS((CASE WHEN {_HLL_C} / d.s <= 160.0 AND d.v > 0
                       THEN 64.0 * ln(64.0 / d.v)
                       ELSE {_HLL_C} / d.s END) - ex.exact_users)
             / ex.exact_users * 10000 + 0.5) / 100 AS rel_err_pct
FROM ex JOIN est_d d ON d.event_type = ex.event_type
        JOIN est_m m ON m.event_type = ex.event_type
ORDER BY ex.event_type
""",
    doc="PORTABLE HyperLogLog distinct-user sketch per event type, fully "
    "oracle-paired (the q_hll_sketch twin: that query exercises Spark's "
    "built-in DataSketches HLL, whose registers are engine-specific and "
    "therefore rows-only; THIS one builds HLL from the engine-portable "
    "md5 hash so DuckDB replays it bit-for-bit).  Construction: 64 "
    "registers (low 6 hash bits), rho = leading-zero rank of the "
    "remaining 54 bits via an exact comparison-chain bit-length (no "
    "float log2), register algebra in exact integers — the harmonic "
    "denominator is SUM(2^(55-Mj)), an integer, so the only float ops "
    "are one shared-literal alpha*m^2*2^55 division and the standard "
    "linear-counting branch (64*ln(64/V) when E <= 2.5m and zeros "
    "remain).  Mergeability is PROVEN in-query: per-day partial "
    "registers max-merged equal the direct registers exactly (max is "
    "associative — unlike the DataSketches sparse->dense promotion, "
    "the portable sketch is bit-identical under any partitioning), so "
    "hll_direct == hll_merged down to the last decimal.  Scale: "
    "register build is a map-side-combined groupBy to <= groups x 64 "
    "cells; merges are max-folds over 64-row panels — the incremental "
    "rollup pattern that replaces exact count-distinct at 100 TB.  "
    "The exact count and relative error ride along as the audit.",
)
def x_hll_portable(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    h = portable_hash64(F.col("user_id").cast("string"))
    rows = ev.select(
        "event_type", F.to_date("ts").alias("day"), "user_id", h.alias("h")
    ).select(
        "event_type",
        "day",
        "user_id",
        F.pmod(F.col("h"), F.lit(_HLL_M)).alias("bucket"),
        F.expr(f"55 - {_bitlen54_sql(f'(h div {_HLL_M})')}").alias("rho"),
    )
    daily = rows.groupBy("event_type", "day", "bucket").agg(F.max("rho").alias("mj"))
    merged = daily.groupBy("event_type", "bucket").agg(F.max("mj").alias("mj"))
    direct = rows.groupBy("event_type", "bucket").agg(F.max("rho").alias("mj"))

    def est_panel(regs: DataFrame, s_name: str, v_name: str) -> DataFrame:
        return regs.groupBy("event_type").agg(
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - mj AS INT))"))
                + (F.lit(_HLL_M) - F.count("*")) * F.lit(1 << 55)
            )
            .cast("long")
            .alias(s_name),
            (F.lit(_HLL_M) - F.count("*")).cast("long").alias(v_name),
        )

    est_d = est_panel(direct, "sd", "vd")
    est_m = est_panel(merged, "sm", "vm")
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )

    def est_expr(s: str, v: str):
        raw = F.lit(float(_HLL_C)) / F.col(s)
        lc = F.lit(64.0) * F.log(F.lit(64.0) / F.col(v))
        return F.when((raw <= 160.0) & (F.col(v) > 0), lc).otherwise(raw)

    return (
        ex.join(est_d, "event_type")
        .join(est_m, "event_type")
        .select(
            "event_type",
            "exact_users",
            (F.floor(est_expr("sd", "vd") * 1000000 + 0.5) / 1000000).alias("hll_direct"),
            (F.floor(est_expr("sm", "vm") * 1000000 + 0.5) / 1000000).alias("hll_merged"),
            (
                F.floor(
                    F.abs(est_expr("sd", "vd") - F.col("exact_users"))
                    / F.col("exact_users")
                    * 10000
                    + 0.5
                )
                / 100
            ).alias("rel_err_pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------- k-truss peel
_KTRUSS_K = 4  # every surviving edge sits in >= k-2 = 2 triangles
_KTRUSS_ROUNDS = 3


def _ktruss_round_sql(prev: str, cur: str) -> str:
    # AS MATERIALIZED for the same exponential-inlining reason as
    # _kcore_round_sql: each round reads the previous alive set three
    # times (the edge stream + both wedge arms)
    return (
        f"und_{cur} AS MATERIALIZED (SELECT u AS a, v AS b FROM {prev} "
        f"UNION ALL SELECT v AS a, u AS b FROM {prev}), "
        f"{cur} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e "
        f"JOIN und_{cur} n1 ON n1.a = e.u "
        f"JOIN und_{cur} n2 ON n2.a = e.v AND n2.b = n1.b "
        f"GROUP BY e.u, e.v HAVING COUNT(*) >= {_KTRUSS_K - 2})"
    )


@register(
    "x_ktruss",
    oracle=f"""
WITH {_EDGES_CTE},
t0 AS MATERIALIZED (SELECT u, v FROM edges),
{_ktruss_round_sql('t0', 't1')},
{_ktruss_round_sql('t1', 't2')},
{_ktruss_round_sql('t2', 't3')}
SELECT CAST((SELECT COUNT(*) FROM t3) AS BIGINT) AS n_edges,
       CAST((SELECT COALESCE(SUM(u * 31 + v), 0) FROM t3) AS BIGINT)
         AS edge_checksum,
       CAST((SELECT COUNT(DISTINCT node) FROM
              (SELECT u AS node FROM t3 UNION SELECT v FROM t3) __n) AS BIGINT)
         AS n_nodes,
       (SELECT COUNT(*) FROM t3) = (SELECT COUNT(*) FROM t2) AS converged
""",
    doc=f"{_KTRUSS_K}-truss of the co-purchase graph by "
    f"{_KTRUSS_ROUNDS}-round support peeling (Cohen 2008): each round "
    "keeps edges whose endpoints share >= k-2 common neighbors among "
    "the SURVIVING edges — the cohesive-subgraph mining step denser "
    "than k-core (every k-truss edge set is inside the (k-1)-core, "
    "but not vice versa).  Support is the wedge-closing join (edge "
    "(u,v) x undirected adjacency at u x adjacency at v on a shared "
    "third endpoint), the same shape as x_triangle_count's closing "
    "join; both engines run the identical FIXED round count with the "
    "chained-MATERIALIZED oracle replaying each peel, and `converged` "
    "certifies whether the last round was a fixpoint — honest "
    "bounded-round semantics like x_kcore.  Scale: per round, one "
    "equi-join-driven support count over the alive edge list with "
    "localCheckpoint lineage truncation; at 100x you'd add degree "
    "orientation to the wedge arms (the x_triangle_count trick) — the "
    "round structure is unchanged.",
)
def x_ktruss(spark: SparkSession, sf: str) -> DataFrame:
    alive = _copurchase_edges(spark, sf)  # (u, v), u < v, checkpointed
    prev_df = None
    for _ in range(_KTRUSS_ROUNDS):
        prev_df = alive
        und = (
            alive.select(F.col("u").alias("a"), F.col("v").alias("b"))
            .unionAll(alive.select(F.col("v").alias("a"), F.col("u").alias("b")))
            # LAZY (here and for the support-filtered edge set below):
            # no in-loop action, so the caller's single action
            # materializes the whole bounded peel — two fewer blocking
            # jobs per round; shared consumers read the stored blocks.
            .localCheckpoint(eager=False)
        )
        n1 = und.select(F.col("a").alias("a1"), F.col("b").alias("w"))
        n2 = und.select(F.col("a").alias("a2"), F.col("b").alias("w"))
        alive = (
            alive.join(n1, alive.u == n1.a1)
            .join(n2, (alive.v == n2.a2) & (n1.w == n2.w))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("supp"))
            .where(F.col("supp") >= _KTRUSS_K - 2)
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    nodes = alive.select(F.col("u").alias("node")).union(
        alive.select(F.col("v").alias("node"))
    )
    stat = alive.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.coalesce(F.sum(F.col("u") * 31 + F.col("v")), F.lit(0))
        .cast("long")
        .alias("edge_checksum"),
    )
    nn = nodes.agg(F.countDistinct("node").cast("long").alias("n_nodes"))
    prev_count = prev_df.agg(F.count(F.lit(1)).alias("n_prev"))
    return (
        stat.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(prev_count))
        .select(
            "n_edges",
            "edge_checksum",
            "n_nodes",
            (F.col("n_edges") == F.col("n_prev")).alias("converged"),
        )
    )
