"""Graph operators: connected components for duplicate clustering, and
iterative scoring (PageRank, HITS, personalized PageRank, label
propagation).

Near-dup detection (MinHash-LSH / SimHash / embedding LSH — see
``operators.dedup``) emits PAIRS, but a dedup pipeline needs CLUSTERS:
the transitive closure of "is a near-dup of", one canonical document
per component.  This module closes that gap with the alternating
large-star / small-star algorithm (Kiveris et al., *Connected
Components in MapReduce and Beyond*, SoCC'14) — the published
shuffle-bounded way to do this on a massive edge list:

* every round is two hash-shuffles on node id (``groupBy`` — no
  driver-side graph, no ``collect``);
* the edge set contracts monotonically toward star graphs rooted at
  each component's minimum id, converging in O(log n) rounds (one in
  practice for dedup graphs, whose components are small and dense —
  the loop stops as soon as the edges form a star forest);
* each round is ``localCheckpoint``-ed so the loop does not build an
  unbounded lineage / replay chain.

The scoring operators run a fixed number of rounds over an edge list
persisted once; a round is one join of the score table onto the edges
and one partial-agg'd inflow ``groupBy`` — two shuffles.  Float
:func:`pagerank` and :func:`pagerank_exact` share one such loop
(:func:`_power_rounds`) and differ only in their arithmetic.

Checkpoint rule (:func:`_round_checkpoint`): every round's state is
checkpointed so lineage stays bounded.  A round checkpoint is eager only
when it observes a metric that the next round folds in as a literal (the
PageRank dangling mass, the HITS renormalization max) — its job is the
action that reads the metric, so no separate scalar job runs.  Every
other round checkpoint is lazy: the next action computes it.

Reference parity: the reference engine has no clustering stage at all
(its ``similarity`` module stops at pairwise scores), so connected
components is net-new surface built for the training-data pipeline brief.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "dedup_clusters",
    "hits",
    "label_propagation",
    "pagerank",
    "pagerank_exact",
    "personalized_pagerank",
]


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of every edge, self-loops dropped."""
    fwd = edges.select(F.col("u"), F.col("v"))
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return fwd.union(rev).where(F.col("u") != F.col("v"))


def _round_checkpoint(
    df: DataFrame, checkpoint_dir: "str | None", metric: "Column | None" = None
) -> "DataFrame | tuple[DataFrame, object]":
    """Per-round lineage truncation for the iterative operators.

    Lazy — the next action computes it — unless ``metric`` (one
    aggregate Column over ``df``) is given: then the checkpoint job is
    the action that observes it, so it runs eagerly and ``(df, metric
    value)`` is returned.

    Default (``checkpoint_dir=None``): ``localCheckpoint`` — blocks live
    on executors WITHOUT replication, so on a multi-node cluster an
    executor loss mid-query kills the query (the truncated lineage has
    no recompute path).  That is the right trade in local mode and for
    restartable batch queries; on a lossy cluster pass
    ``checkpoint_dir`` (an HDFS/object-store path) for a RELIABLE
    ``checkpoint`` that survives executor loss at the cost of writing
    each round's state there.  Results are identical either way.
    """
    eager = metric is not None
    if eager:
        obs = Observation()
        df = df.observe(obs, metric.alias("__metric"))
    if checkpoint_dir is None:
        df = df.localCheckpoint(eager=eager)
    else:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir makes a fresh ``<dir>/<uuid>`` subdirectory on
        # every call, so only switch when the current one is not under
        # checkpoint_dir (compared in the Hadoop-qualified form
        # getCheckpointDir reports)
        path = sc._jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
        want = path.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(path).toString()
        current = sc.getCheckpointDir()
        if current is None or current.rsplit("/", 1)[0] != want:
            sc.setCheckpointDir(checkpoint_dir)
        df = df.checkpoint(eager=eager)
    return (df, obs.get["__metric"]) if eager else df


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    Input must be symmetric.  Output edges are (larger, smaller) — a
    MULTISET, not a set: the round's trailing :func:`_small_star`
    ``distinct`` is the single per-round edge-set collapse, and every
    consumer in between (a group-min and a join probe) is
    multiplicity-insensitive, so deduplicating here bought nothing but
    one full extra exchange per round.  The raw multiset is bounded by
    the round's own edge count (one output row per symmetric edge with
    ``v > u``), so there is no blow-up to collapse.

    Shape: ONE exchange — the input is hash-repartitioned on ``u`` and
    that single shuffle is shared (ReuseExchange) by the per-node-min
    hash aggregate AND the join probe back onto the edge list; the
    aggregate's output keeps the same partitioning, so the join itself
    is exchange-free.  NEVER a ``collect_set`` of the neighborhood: a
    10M-document boilerplate clique costs a 10M-row group-min and a
    10M-row join probe instead of a 10M-element array in one
    aggregation buffer (the streaming formulation of the paper).
    """
    edges = edges.repartition("u")
    m = (
        edges.groupBy("u")
        .agg(F.min("v").alias("__mv"))
        .select("u", F.least("u", "__mv").alias("__m"))
    )
    return (
        edges.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Direct edges high→low, then connect each low neighbor (and u) to
    the minimum — collapsing chains into stars.  Same shared-exchange
    join-back shape as :func:`_large_star` (one repartition on ``u``
    feeds both the group-min and the join probe; no neighborhood
    arrays).  Input may be a multiset (see :func:`_large_star`); the
    trailing ``distinct`` here is the round's one edge-set collapse."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).repartition("u")
    m = directed.groupBy("u").agg(F.min("v").alias("__m"))  # all v < u
    neighbor_links = (
        directed.join(m, "u")
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )
    self_links = m.select("u", F.col("__m").alias("v"))
    return (
        neighbor_links.union(self_links)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Component labels for every node appearing in ``pairs``.

    Returns ``(node, component)`` where ``component`` is the MINIMUM
    node id in the connected component — a deterministic, join-stable
    canonical label.

    Scale shape: each iteration of large-star + small-star is two
    ``groupBy("u")`` shuffles over the current edge list; no step ever
    materializes a neighborhood larger than the true neighborhood, and
    the edge count shrinks toward one edge per non-root node.

    Convergence: the loop stops as soon as the round's directed
    (``u > v``) edges form a STAR FOREST — no node has two out-edges and
    no out-edge's target has an out-edge of its own.  One ``groupBy`` on
    node over the new edges alone decides it; the previous round's edge
    list is never read again.  A star forest is a fixpoint of large-star
    plus small-star: every leaf's only neighbour is its root, which is
    smaller than every leaf, so large-star re-emits each (leaf, root)
    edge and small-star maps each leaf to the same root.  The labels are
    therefore the ones a further round would produce, and the
    confirmation round an edge-set diff needs is skipped — dedup graphs
    (small, dense components) become stars in round 1.

    Round-0 edges may repeat: the input pairs are only directed high→low,
    not deduplicated.  Large-star is a group-min and a join probe, both
    blind to multiplicity, and round 1's small-star ``distinct`` is the
    first edge-set collapse, so a ``distinct`` at entry would only add
    an exchange.
    """
    # normalize high→low at entry so every round boundary holds directed
    # (u > v) edges: _symmetrize regenerates both directions anyway, so
    # the symmetric graph is identical
    a = F.col(id_a).cast("long")
    b = F.col(id_b).cast("long")
    edges = _round_checkpoint(
        pairs.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .where(F.col("u") != F.col("v")),
        checkpoint_dir,
    )
    converged = False
    for _ in range(max_iterations):
        # LAZY checkpoint: the star test below is the round's only action
        # and it reads ``edges``, so one job computes the star rounds,
        # stores the checkpoint blocks and decides convergence
        edges = _round_checkpoint(_small_star(_large_star(_symmetrize(edges))), checkpoint_dir)
        ends = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("node"), F.lit(1).alias("out")),
                    F.struct(F.col("v").alias("node"), F.lit(0).alias("out")),
                )
            ).alias("e")
        ).select("e.node", "e.out")
        # star forest iff every node with an out-edge is a leaf (degree one)
        not_star = (
            ends.groupBy("node")
            .agg(F.max("out").alias("__tail"), F.count(F.lit(1)).alias("__deg"))
            .where((F.col("__tail") == 1) & (F.col("__deg") > 1))
        )
        converged = not_star.limit(1).count() == 0
        if converged:
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iterations} "
            "iterations (star-contraction needs O(log n) rounds — this "
            "graph is pathological or max_iterations is too low); labels "
            "may merge further on another pass",
            RuntimeWarning,
            stacklevel=2,
        )
    # at fixpoint every edge points node → component-min; roots label
    # themselves (repeated root rows collapse in the groupBy)
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component"))
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    broadcast_labels: bool = False,
) -> DataFrame:
    """Full-corpus cluster assignment from near-dup pairs.

    Every document gets a ``cluster_id`` (= minimum doc id in its
    near-dup component; singletons label themselves), the component
    size, and an ``is_canonical`` flag (the keeper under a
    keep-lowest-id policy).  Downstream, ``filter(is_canonical)`` IS
    the deduplicated corpus.

    Scale shape: the label table is O(non-singleton docs) — usually tiny
    relative to the corpus, but NOT guaranteed broadcastable (a heavily
    duplicated crawl can label most of the corpus), so the join is left
    unhinted by default and AQE/statistics pick broadcast when it fits;
    pass ``broadcast_labels=True`` to force the hint when the dup rate
    is known-small.  The big table shuffles only for the cluster-size
    window, which partitions on ``cluster_id``; singleton clusters are
    size-1 groups so skew is bounded by the largest duplicate cluster.
    """
    labels = connected_components(pairs, id_a=id_a, id_b=id_b).withColumnRenamed(
        "node", "__node"
    )
    if broadcast_labels:
        labels = F.broadcast(labels)
    joined = docs.select(F.col(id_col)).join(
        labels, F.col(id_col) == F.col("__node"), "left"
    )
    w = Window.partitionBy("cluster_id")
    return (
        joined.select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def _power_graph(edges: DataFrame, src: str, dst: str) -> "tuple[DataFrame, DataFrame, int, int]":
    """Setup shared by :func:`pagerank` and :func:`pagerank_exact`: the
    persisted ``(u, v)`` edges without null endpoints, the persisted
    ``(node, deg)`` out-degree table over src ∪ dst (0 for a dangling
    node), the node count N and the dangling-node count — sized by one
    aggregate job that also materializes both frames (released again on
    an empty graph)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).dropna().persist()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nodes = e.select(F.col("u").alias("node")).union(e.select(F.col("v").alias("node"))).distinct()
    nd = (
        nodes.join(deg, nodes.node == deg.u, "left")
        .select("node", F.coalesce("d", F.lit(0)).cast("long").alias("deg"))
        .persist()
    )
    n, n_dangling = nd.agg(F.count(F.lit(1)), F.count(F.when(F.col("deg") == 0, 1))).first()
    if n == 0:
        e.unpersist()
        nd.unpersist()
    return e, nd, n, n_dangling


def _power_rounds(
    e: DataFrame, nd: DataFrame, score: Column, dangling: float, push: Column,
    update: Callable[[Column, float], Column], iterations: int, checkpoint_dir: "str | None",
) -> DataFrame:
    """The round loop of :func:`pagerank` and :func:`pagerank_exact` over
    :func:`_power_graph`'s ``e`` and ``nd`` (released at the end);
    returns ``(node, deg, score)``.

    ``score`` is each node's round-0 score and ``dangling`` the round-0
    dangling mass (score summed over zero-out-degree nodes).  Per round
    each node sends ``push`` (over its ``score`` and ``deg``) along every
    out-edge, the shares are summed per destination, ``update(inflow,
    dangling)`` is the new score, and the round's eager checkpoint job
    observes the next dangling mass.  The out-degree rides inside the
    score table, so a round is one join and one inflow ``groupBy``.
    """
    state = nd.select("node", "deg", score.alias("score"))
    for _ in range(iterations):
        inflow = (
            e.join(state.where(F.col("deg") > 0), e.u == F.col("node"))
            .groupBy(F.col("v").alias("__node"))
            .agg(F.sum(push).alias("__in"))
        )
        state, dangling = _round_checkpoint(
            nd.join(inflow, nd.node == inflow["__node"], "left").select(
                "node", "deg", update(F.coalesce("__in", F.lit(0)), dangling).alias("score")
            ),
            checkpoint_dir,
            F.coalesce(F.sum(F.when(F.col("deg") == 0, F.col("score"))), F.lit(0)),
        )
    e.unpersist()
    nd.unpersist()
    return state


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Power-iteration PageRank over an edge list (Brin & Page 1998),
    with dangling-mass redistribution.

    Each round is two partial-agg'd shuffles over an edge list
    persisted once (:func:`_power_rounds`), and the rank table is
    eagerly checkpointed every round — without this the lineage doubles
    per iteration and planning time, task binaries, and failure-replay
    cost grow without bound.  The dangling mass (nodes with no
    out-edges) is folded back uniformly; it is an ``observe`` metric of
    each round's checkpoint job, and the round-0 mass follows from the
    setup job's dangling-node count.  Ranks sum to 1 at every step
    (probability semantics), so results are comparable across graphs.

    ``checkpoint_dir``: see :func:`_round_checkpoint` (reliable
    checkpoints for lossy clusters).

    Returns ``node, rank`` (unnormalized node set = src ∪ dst; edges
    with a null endpoint are dropped).  Deterministic up to float
    reduction order (the observed dangling mass merges per-task partial
    sums in completion order); validated against a numpy power
    iteration in tests.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e, nd, n, n_dangling = _power_graph(edges, src, dst)
    if n == 0:  # no edges: no nodes to score
        return nd.select("node", F.lit(0.0).alias("rank"))
    ranks = _power_rounds(
        e, nd, F.lit(1.0 / n), n_dangling / n, F.col("score") / F.col("deg"),
        lambda inflow, dm: F.lit((1.0 - damping) / n) + F.lit(damping) * (inflow + F.lit(dm / n)),
        iterations, checkpoint_dir,
    )
    return ranks.select("node", F.col("score").alias("rank"))


def label_propagation(
    edges: DataFrame, rounds: int = 3, checkpoint_dir: "str | None" = None
) -> DataFrame:
    """Synchronous min-label propagation over an undirected edge list
    (``u``/``v`` columns) — the bounded-round community sketch.

    Returns ``node, lbl`` where ``lbl`` is the minimum node id within
    graph distance ``rounds`` — converging toward
    :func:`connected_components`' exact fixpoint as rounds grow, at a
    FIXED cost the caller budgets up front.  Deterministic: the min
    update has no tie-break ambiguity, so the result is reproducible
    and differential-testable (``x_label_propagation``'s chained-CTE
    oracle replays the identical rounds).

    Scale: each round is ONE node-keyed partial-agg'd shuffle (join the
    label table to the self-looped adjacency, groupBy destination,
    min); ``localCheckpoint`` per round keeps lineage O(1).  Choose
    this over CC when round budget matters more than exact closure
    (e.g. a nightly community sketch over a crawl graph); choose CC
    when clusters must be exact (dedup survivorship).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    adj = _symmetrize(edges).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    nodes = adj.select(F.col("src").alias("node")).distinct()
    loops = nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    adjp = _round_checkpoint(adj.unionAll(loops), checkpoint_dir)
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(rounds):
        labels = _round_checkpoint(
            adjp.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("lbl")),
            checkpoint_dir,
        )
    return labels


def hits(
    edges: DataFrame,
    iterations: int = 4,
    scale: int = 1_000_000,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: "str | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Kleinberg's HITS (JACM 1999) hub/authority scores over a directed
    edge list, in EXACT integer arithmetic so results are engine- and
    reduction-order-independent.

    Classic HITS alternates ``a = A^T h`` / ``h = A a`` with float L2
    normalization — whose reduction order is not reproducible on a
    distributed engine.  Here every score lives in integer micro-units:
    each half-round SUMS exact integers (64-bit longs — no float ever
    enters a shuffle) and renormalizes by the round's MAX via exact
    integer floor division ``n DIV m`` (top score = ``scale``).
    The fixpoint direction is identical to max-normalized HITS; scores
    are portable bit-for-bit to any engine replaying the same integer
    recurrence (the catalog's DuckDB oracle does exactly that).

    Integer-width bound (why plain longs are exact here): every score
    is ≤ ``scale`` after renormalization, so a raw half-round sum is
    ≤ scale × in-degree ≤ 10⁶ × deg — a long overflows only past a
    per-node degree of ~9.2 × 10¹², far beyond any real graph.  The
    renormalization numerator is bounded by
    ``max_raw × scale ≤ (10⁶ × deg) × 10⁶``, safe to deg ≤ 9.2 × 10⁶
    for the single hottest node; for graphs hotter than that pass a
    smaller ``scale``.  The integer DIV is exact where a float ``/``
    would round above 2⁵³.

    Per half-round: one join of the score table onto the edge list and
    one partial-agg'd ``groupBy`` — two shuffles, same as pagerank.  The
    RAW sums are checkpointed per half-round (the renormalized frame has
    two consumers: the next half-round's join and, for the final round,
    the returned frame), and the exact integer MAX is an ``observe``
    metric of that checkpoint job, folded back as an integer literal.
    Multi-edges count with multiplicity — ``distinct()`` the input for
    the unweighted semantics.

    ``checkpoint_dir``: see :func:`_round_checkpoint` (reliable
    checkpoints for lossy clusters).

    Returns ``(hubs, authorities)`` as ``(node, score_micro)`` frames.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).dropna().persist()

    def _renorm(raw: DataFrame) -> DataFrame:
        raw, m = _round_checkpoint(raw, checkpoint_dir, F.max("raw"))
        if m is None:  # empty graph — no rows to renormalize either way
            m = 1
        return raw.select(
            "node",
            F.expr(f"(raw * {int(scale)}L) DIV {int(m)}L").alias("score_micro"),
        )

    hubs = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.lit(scale).cast("long").alias("score_micro"))
    )
    auths = None
    for _ in range(iterations):
        a_raw = (
            e.join(hubs, e.u == hubs.node)
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("score_micro").alias("raw"))
        )
        auths = _renorm(a_raw)
        h_raw = (
            e.join(auths, e.v == auths.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("score_micro").alias("raw"))
        )
        hubs = _renorm(h_raw)
    # every half-round is eagerly checkpointed inside _renorm, so the
    # returned frames never read ``e``: release its cached blocks
    e.unpersist()
    return hubs, auths


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Personalized PageRank / random walk with restart (Haveliwala,
    WWW 2002) from a seed set, in EXACT integer arithmetic so the
    k-round recurrence replays bit-identically on any engine.

    Semantics (documented, deterministic, engine-portable):

    * scores live in integer micro-units; every seed node re-injects
      ``scale`` micro-units each round (restart mass);
    * a node ``u`` with out-degree ``d`` pushes
      ``floor(p[u] * damp_num / (damp_den * d))`` micro-units along
      EACH out-edge — exact integer floor division, no floats ever
      enter a shuffle;
    * dangling mass (nodes without out-edges) is absorbed, not
      redistributed — the fixpoint direction matches restart-walk
      proximity, which is what seed-relative ranking needs.

    Scale shape: the degree rides INSIDE the persisted edge list
    (``src, dst, deg``), so each round is ONE join of the sparse score
    table onto the edges plus ONE partial-agg'd ``groupBy(dst)`` and a
    node-keyed full-outer with the seed panel; the score table is
    lazily ``localCheckpoint``-ed every round so lineage stays bounded.
    The score table stays SPARSE — only nodes reachable from the seeds in
    <= k hops ever hold a row, so personalization over a small segment
    touches a small frontier even on a 100 TB graph.

    Returns ``(node, score_micro)`` for every node with a nonzero
    recurrence row after the final round.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # e is consumed twice building ewd (the degree agg and the join
    # probe); persisting it keeps the caller's edge subtree from
    # executing twice when ewd first materializes
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ewd = e.join(deg, "u").persist()

    seed_panel = seeds.select(F.col(seed_col).alias("node")).distinct().persist()
    state = seed_panel.select("node", F.lit(scale).cast("long").alias("p"))
    for _ in range(iterations):
        num = F.col("p") * F.lit(damp_num)
        den = F.col("d") * F.lit(damp_den)
        infl = (
            ewd.join(state, ewd.u == state.node)
            .select(F.col("v").alias("node"), ((num - num % den) / den).cast("long").alias("sh"))
            .groupBy("node")
            .agg(F.sum("sh").alias("infl"))
        )
        restart = seed_panel.select("node", F.lit(scale).cast("long").alias("restart"))
        p = (F.coalesce("infl", F.lit(0)) + F.coalesce("restart", F.lit(0))).cast("long")
        state = _round_checkpoint(
            infl.join(restart, "node", "full_outer").select("node", p.alias("p")), checkpoint_dir
        )
    e.unpersist()
    ewd.unpersist()
    seed_panel.unpersist()
    return state.select("node", F.col("p").alias("score_micro"))


def pagerank_exact(
    edges: DataFrame,
    iterations: int = 6,
    scale: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Full-semantics PageRank (uniform teleport + dangling-mass
    redistribution, like :func:`pagerank`) in EXACT integer arithmetic,
    so the k-round recurrence replays bit-identically on any engine —
    the discipline :func:`hits` and :func:`personalized_pagerank`
    established, applied to the flagship float iteration on the same
    round loop (:func:`_power_rounds`; ``checkpoint_dir``: see
    :func:`_round_checkpoint`).

    Semantics (documented, deterministic, engine-portable; total mass
    starts at ``N * scale`` micro-units, one ``scale`` per node):

    * per round, node ``u`` with out-degree ``d`` pushes
      ``floor(p[u] * damp_num / (damp_den * d))`` micro-units along
      EACH out-edge;
    * every node receives a constant teleport of
      ``floor((damp_den - damp_num) * scale / damp_den)`` micro-units
      (the (1-d)/N share of total mass — N cancels);
    * dangling mass (sum of ``p`` over zero-out-degree nodes) is
      redistributed uniformly: each node adds
      ``floor(damp_num * dangling / (damp_den * N))``.

    Floor division leaks a few micro-units of mass per round —
    deterministically, identically on every engine, which is the trade
    that buys bit-exact differential testability (float PageRank's
    reduction order is not reproducible across engines; keep
    :func:`pagerank` when probability semantics matter more than
    replayability).

    Integer-width bound (why plain longs are exact here, the same
    discipline as :func:`hits`): total mass never exceeds its starting
    value ``N × scale`` (floor division only leaks mass), every score
    and every per-round sum is ≤ total mass, and the widest
    intermediate is ``p × damp_num`` (and ``dang × damp_num``), so a
    long overflows only when ``N × scale × damp_num ≥ 2⁶³`` — i.e.
    N ≈ 10¹¹ nodes at the default ``scale=10⁶``; pass a smaller
    ``scale`` for larger graphs.

    Returns ``(node, deg, score_micro)`` over the full node set (edges
    with a null endpoint are dropped).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e, nd, n, n_dangling = _power_graph(edges, src, dst)
    if n == 0:  # no edges: no nodes to score
        return nd.select("node", "deg", F.lit(int(scale)).cast("long").alias("score_micro"))
    dn, dd = int(damp_num), int(damp_den)
    teleport = (dd - dn) * int(scale) // dd
    scores = _power_rounds(
        # every node starts at ``scale``; the per-node dangling share is
        # exact floor division on two loop scalars, so it is a literal
        e, nd, F.lit(int(scale)).cast("long"), n_dangling * int(scale),
        F.expr(f"(score * {dn}L) DIV (deg * {dd}L)"),
        lambda inflow, dang: F.lit(teleport + dang * dn // (n * dd)).cast("long") + inflow,
        iterations, checkpoint_dir,
    )
    return scores.select("node", "deg", F.col("score").alias("score_micro"))
