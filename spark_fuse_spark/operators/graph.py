"""Distributed connected components for duplicate clustering.

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

Reference parity: the reference engine has no clustering stage at all
(its ``similarity`` module stops at pairwise scores), so this operator
is net-new surface built for the training-data pipeline brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
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


def _round_checkpoint(df: DataFrame, checkpoint_dir: "str | None", eager: bool = True) -> DataFrame:
    """Per-round lineage truncation for the iterative operators.

    Default (``checkpoint_dir=None``): ``localCheckpoint`` — blocks live
    on executors WITHOUT replication, so on a multi-node cluster an
    executor loss mid-query kills the query (the truncated lineage has
    no recompute path).  That is the right trade in local mode and for
    restartable batch queries; for long iterative jobs on a lossy
    cluster pass ``checkpoint_dir`` (an HDFS/object-store path) to
    switch every round to a RELIABLE ``checkpoint`` — survives executor
    loss at the cost of writing each round's state to the checkpoint
    dir.  Results are identical either way; only fault-tolerance and
    per-round I/O differ.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir makes a fresh ``<dir>/<uuid>`` subdirectory on every
    # call, so only switch when the current one is not under checkpoint_dir
    # (compared in the Hadoop-qualified form getCheckpointDir reports)
    path = sc._jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    want = path.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(path).toString()
    current = sc.getCheckpointDir()
    if current is None or current.rsplit("/", 1)[0] != want:
        sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


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
    """
    # normalize high→low at entry so the per-round boundary invariant is
    # "directed (u > v), deduped" from round 0: _symmetrize regenerates
    # both directions anyway, so the symmetric graph is identical.  LAZY
    # checkpoint: round 1's action computes it.
    a = F.col(id_a).cast("long")
    b = F.col(id_b).cast("long")
    edges = _round_checkpoint(
        pairs.select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint_dir,
        eager=False,
    )
    converged = False
    for _ in range(max_iterations):
        # LAZY checkpoint: the star test below is the round's only action
        # and it reads ``edges``, so one job computes the star rounds,
        # stores the checkpoint blocks and decides convergence
        edges = _round_checkpoint(
            _small_star(_large_star(_symmetrize(edges))), checkpoint_dir, eager=False
        )
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
    # at fixpoint every edge points node → component-min; roots label themselves
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
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


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 1,
    checkpoint_dir: "str | None" = None,
) -> DataFrame:
    """Power-iteration PageRank over an edge list (Brin & Page 1998),
    with dangling-mass redistribution.

    The iterative-workload pattern on Spark done right:

    * each iteration is exactly TWO shuffles — a join of the rank table
      onto the edge list by ``src`` and a contribution ``groupBy`` on
      ``dst`` — both partial-agg'd; the edge list itself is persisted
      once and reused every round, so the heavy relation is shuffled
      for the join but never recomputed from source;
    * every ``checkpoint_every`` rounds (default EVERY round) the rank
      table is eagerly ``localCheckpoint``-ed — without this the lineage
      doubles per iteration and planning time, task binaries, and
      failure-replay cost grow without bound (the classic
      iterative-Spark trap).  Every-round is the right default because
      the rank table has multiple consumers per round (the contribution
      join and the next state build; on the ``checkpoint_every > 1``
      panel path also the dangling 1-row broadcast subtree): with
      un-checkpointed lineage each consumer
      re-executes the previous rounds' joins independently — the
      broadcast panel does not share work with the main plan — so a
      k-round checkpoint interval multiplies, not adds, replayed work
      (measured: every-3 → every-1 cut the 10-round suppliers graph
      from ~7.7 s to ~4 s at sf0.1 with bit-identical floats, the
      checkpointed state being only O(nodes) rows);
    * dangling mass (nodes with no out-edges) is folded back uniformly
      via ONE scalar readout per round on the rank table (O(nodes),
      not O(edges)) — on the default every-round-checkpoint path the
      readout is an ``observe`` metric collected DURING the round's
      checkpoint job, so no separate per-round panel job exists at all
      (for ``checkpoint_every > 1`` it falls back to the broadcast
      1-row-aggregate panel, which needs no round action);
    * ranks sum to 1 at every step (probability semantics), so
      convergence is monitorable and results comparable across graphs.

    ``checkpoint_dir``: see :func:`_round_checkpoint` — pass a reliable
    checkpoint directory to survive executor loss on a real cluster;
    the local default truncates lineage without replication.

    Returns ``node, rank`` (unnormalized node set = src ∪ dst).
    Deterministic up to float reduction order (the observe readout
    merges per-task partials in task-completion order, the panel
    aggregate in partition order — both are unordered float sums within
    the operator's declared determinism contract); validated against a
    numpy power iteration in tests.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    )
    e = e.persist()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
    nodes = e.select(F.col("u").alias("node")).union(
        e.select(F.col("v").alias("node"))
    ).distinct()
    # out-degree per node, 0 for dangling (no out-edges) — the degree
    # rides INSIDE the iterated state table, so no per-iteration
    # rank-onto-degree join exists at all (one fewer shuffle per round)
    nd = nodes.join(deg, nodes.node == deg.u, "left").select(
        "node", F.coalesce("__deg", F.lit(0)).alias("__deg")
    ).persist()
    n = nd.count()  # one job; also materializes the persisted edge set
    if n == 0:  # no edges: no nodes to score
        e.unpersist()
        nd.unpersist()
        return nd.select("node", F.lit(0.0).alias("rank"))
    state = nd.withColumn("rank", F.lit(1.0 / n))

    dm_agg = F.coalesce(
        F.sum(F.when(F.col("__deg") == 0, F.col("rank"))), F.lit(0.0)
    ).alias("__dm")
    observe_dm = checkpoint_every == 1
    if observe_dm:
        # round-0 dangling mass: one O(nodes) scalar job over the
        # persisted state (the same aggregate the panel path folds into
        # its broadcast subtree); each subsequent round's mass then
        # rides the round's checkpoint job as an observed metric
        dm = state.where(F.col("__deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0))
        ).first()[0]

    for i in range(iterations):
        contrib = (
            e.join(state.where(F.col("__deg") > 0), e.u == F.col("node"))
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        if observe_dm:
            state = (
                nd.join(contrib, "node", "left")
                .select(
                    "node",
                    "__deg",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce("__in", F.lit(0.0)) + F.lit(dm / n))
                    ).alias("rank"),
                )
            )
            obs = Observation()
            state = _round_checkpoint(state.observe(obs, dm_agg), checkpoint_dir)
            dm = obs.get["__dm"] or 0.0
        else:
            # dangling mass as a 1-row aggregate folded into the SAME
            # plan (broadcast scalar panel) — not a per-iteration driver
            # collect.  Required when intermediate rounds have no action
            # to observe through.
            dangling = state.where(F.col("__deg") == 0).agg(dm_agg)
            state = (
                nd.join(contrib, "node", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "node",
                    "__deg",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce("__in", F.lit(0.0)) + F.col("__dm") / n)
                    ).alias("rank"),
                )
            )
            if (i + 1) % checkpoint_every == 0 or i == iterations - 1:
                state = _round_checkpoint(state, checkpoint_dir)
    e.unpersist()
    nd.unpersist()
    return state.select("node", "rank")


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
    adj = _symmetrize(edges).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    nodes = adj.select(F.col("src").alias("node")).distinct()
    adjp = _round_checkpoint(
        adj.unionAll(
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        ),
        checkpoint_dir,
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(rounds):
        labels = (
            adjp.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("lbl").alias("lbl"))
            # LAZY: each round's label table sits on a single path (only
            # the next round reads it), so the caller's one action
            # materializes the whole bounded loop — one job instead of
            # one blocking job per round — while each round's checkpoint
            # still truncates lineage as it is computed.
        )
        labels = _round_checkpoint(labels, checkpoint_dir, eager=False)
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
    smaller ``scale``.  (The previous decimal(38,0) formulation had no
    such bound but paid BigDecimal aggregation on every edge of every
    half-round; the values are identical — property-checked in tests —
    and the integer DIV is exact where a float ``/`` would round above
    2⁵³.)

    Per half-round: one join of the score table onto the edge list and
    one partial-agg'd ``groupBy`` — two shuffles, same as pagerank —
    plus the round's MAX read off as an ``observe`` metric DURING the
    half-round's checkpoint job and folded back as an integer literal:
    no separate max-panel job, no broadcast.  The metric is an exact
    integer max (reduction-order-free), so scores are bit-identical to
    the broadcast-panel formulation.  The RAW sums are
    ``localCheckpoint``-ed per half-round — the renormalized frame has
    two consumers (the next half-round's join and, for the final round,
    the returned frame), and the checkpoint doubles as the per-round
    lineage truncation.  Multi-edges count with multiplicity —
    ``distinct()`` the input for the unweighted semantics.

    ``checkpoint_dir``: see :func:`_round_checkpoint` — reliable
    checkpoints for lossy clusters; local-mode default unchanged.

    Returns ``(hubs, authorities)`` as ``(node, score_micro)`` frames.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()

    def _renorm(raw: DataFrame) -> DataFrame:
        obs = Observation()
        raw = _round_checkpoint(raw.observe(obs, F.max("raw").alias("m")), checkpoint_dir)
        m = obs.get["m"]
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
    # returned frames read only checkpoint blocks (+ broadcast panels)
    # and never ``e`` — release it instead of leaking an edge-sized
    # cached frame into the session's storage pool (guide §5; this was
    # the one persist site in the repo without a matching unpersist)
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
    ``localCheckpoint``-ed every round so lineage stays bounded.  The
    score table stays SPARSE — only nodes reachable from the seeds in
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
            .select(
                F.col("v").alias("node"),
                ((num - num % den) / den).cast("long").alias("sh"),
            )
            .groupBy("node")
            .agg(F.sum("sh").alias("infl"))
        )
        state = (
            infl.join(
                seed_panel.select("node", F.lit(scale).cast("long").alias("restart")),
                "node",
                "full_outer",
            )
            .select(
                "node",
                (
                    F.coalesce("infl", F.lit(0)) + F.coalesce("restart", F.lit(0))
                ).cast("long").alias("p"),
            )
        )
        state = _round_checkpoint(state, checkpoint_dir)
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
    established, applied to the flagship float iteration.

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

    Scale shape (same as :func:`pagerank`): per round one score-onto-
    edges join + one partial-agg'd inflow ``groupBy`` — two shuffles.
    The dangling mass is an ``observe`` metric collected DURING each
    round's checkpoint job (exact integer sum — reduction-order-free,
    so scores are bit-identical to the previous broadcast-panel
    formulation, which cost one extra panel job per round); the node
    count N is a loop constant measured once at setup (the same job
    that materializes the persisted degree table).  State is
    checkpointed every round so lineage stays bounded
    (``checkpoint_dir``: see :func:`_round_checkpoint`).  Sums ride in
    64-bit longs.

    Integer-width bound (why plain longs are exact here, the same
    discipline as :func:`hits`): total mass never exceeds its starting
    value ``N × scale`` (floor division only leaks mass), every score
    and every per-round sum is ≤ total mass, and the widest
    intermediate is ``p × damp_num`` (and ``dang × damp_num``), so a
    long overflows only when ``N × scale × damp_num ≥ 2⁶³`` — i.e.
    N ≈ 10¹¹ nodes at the default ``scale=10⁶``; pass a smaller
    ``scale`` for larger graphs.  (The previous decimal(38,0)
    formulation had no such bound but paid BigDecimal aggregation on
    every edge of every round; the integer ``DIV`` is exact, so the
    scores are bit-identical.)

    Returns ``(node, deg, score_micro)`` over the full node set.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    nd = (
        nodes.join(deg, nodes.node == deg.u, "left")
        .select("node", F.coalesce("d", F.lit(0)).cast("long").alias("deg"))
        .persist()
    )
    teleport = (damp_den - damp_num) * scale // damp_den

    # the out-degree rides INSIDE the iterated state table (same design
    # as the float :func:`pagerank`), so the per-edge push divides by
    # state's own ``deg`` — no separate (edges ⋈ degree) relation exists
    # at all.  The previous ``ewd = e.join(deg)`` paid a one-time
    # edge-sized sort-merge join and cached an edge-sized table for a
    # column the join partner already carried.
    # one setup job sizes the graph (N is a loop constant; the initial
    # dangling mass is exactly n_dangling × scale because every node
    # starts at ``scale``) and materializes the persisted nd + e
    sizes = nd.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("deg") == 0, F.lit(1)).cast("long")), F.lit(0).cast("long")
        ).alias("nd0"),
    ).first()
    n = int(sizes["n"])
    if n == 0:  # no edges: no nodes to score
        e.unpersist()
        nd.unpersist()
        return nd.select("node", "deg", F.lit(int(scale)).cast("long").alias("score_micro"))
    dang = int(sizes["nd0"]) * int(scale)

    dang_agg = F.coalesce(
        F.sum(F.when(F.col("deg") == 0, F.col("p"))), F.lit(0).cast("long")
    ).alias("dang")
    state = nd.select("node", "deg", F.lit(int(scale)).cast("long").alias("p"))
    for _ in range(iterations):
        # the per-node dangling share is pure integer floor division on
        # two loop scalars — computed on the driver (Python ints, exact,
        # identical to the previous in-plan DIV) and folded in as a
        # literal: the former 1-row broadcast (dang, n) panel cost one
        # extra job per round for the same two numbers
        dang_share = (dang * int(damp_num)) // (n * int(damp_den))
        infl = (
            e.join(state, e.u == state.node)
            .select(
                F.col("v").alias("inode"),
                F.expr(
                    f"(p * {int(damp_num)}L) DIV (deg * {int(damp_den)}L)"
                ).alias("sh"),
            )
            .groupBy("inode")
            .agg(F.sum("sh").alias("infl"))
        )
        obs = Observation()
        state = (
            nd.join(infl, nd.node == infl.inode, "left")
            .select(
                "node",
                "deg",
                (
                    F.lit(int(teleport) + dang_share).cast("long")
                    + F.coalesce("infl", F.lit(0).cast("long"))
                ).alias("p"),
            )
            .observe(obs, dang_agg)
        )
        state = _round_checkpoint(state, checkpoint_dir)
        dang = int(obs.get["dang"] or 0)
    e.unpersist()
    nd.unpersist()
    return state.select("node", "deg", F.col("p").alias("score_micro"))
