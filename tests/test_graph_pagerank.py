"""PageRank numerics pinned against a numpy power iteration, plus
probability-mass and dangling-node semantics."""

from __future__ import annotations

import pytest

from spark_fuse_spark.operators.graph import pagerank


def _numpy_pagerank(edges, n, iterations=10, d=0.85):
    import numpy as np

    ranks = np.full(n, 1.0 / n)
    out = [0] * n
    for u, _ in edges:
        out[u] += 1
    for _ in range(iterations):
        contrib = np.zeros(n)
        dangling = sum(r for i, r in enumerate(ranks) if out[i] == 0)
        for u, v in edges:
            contrib[v] += ranks[u] / out[u]
        ranks = (1 - d) / n + d * (contrib + dangling / n)
    return ranks


@pytest.fixture(scope="module")
def small_graph(spark):
    # 0->1, 0->2, 1->2, 2->0, 3->2 ; node 4 exists only as a dangling dst
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    return edges, df


def test_matches_numpy_power_iteration(spark, small_graph):
    edges, df = small_graph
    got = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
    want = _numpy_pagerank(edges, 5, iterations=10)
    assert set(got) == {0, 1, 2, 3, 4}
    for i in range(5):
        assert got[i] == pytest.approx(want[i], abs=1e-9)


def test_mass_conserved_and_ordering_sensible(spark, small_graph):
    _, df = small_graph
    rows = pagerank(df, iterations=10).collect()
    assert sum(r.rank for r in rows) == pytest.approx(1.0, abs=1e-9)
    ranks = {r.node: r.rank for r in rows}
    # node 2 has the most in-links; node 3 has none
    assert ranks[2] == max(ranks.values())
    assert ranks[3] == min(ranks.values())


def test_rejects_zero_iterations(spark, small_graph):
    _, df = small_graph
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)


def _python_pagerank_exact(edges, iterations, scale=1_000_000, dn=85, dd=100):
    """Pure-python replay of the documented integer recurrence."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out: dict = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    deg = {n: len(out.get(n, [])) for n in nodes}
    n_nodes = len(nodes)
    tele = (dd - dn) * scale // dd
    p = {n: scale for n in nodes}
    for _ in range(iterations):
        dang = sum(p[n] for n in nodes if deg[n] == 0)
        infl = {n: 0 for n in nodes}
        for u in nodes:
            if deg[u]:
                sh = (p[u] * dn) // (dd * deg[u])
                for v in out[u]:
                    infl[v] += sh
        ds = (dn * dang) // (dd * n_nodes)
        p = {n: tele + ds + infl[n] for n in nodes}
    return p


def test_pagerank_exact_matches_python_replay(spark, small_graph):
    from spark_fuse_spark.operators.graph import pagerank_exact

    edges, df = small_graph
    got = {r.node: r.score_micro for r in pagerank_exact(df, iterations=5).collect()}
    assert got == _python_pagerank_exact(edges, 5)


def test_pagerank_exact_agrees_with_float_ranking(spark, small_graph):
    """Same fixpoint direction: the exact-integer variant must order the
    small graph identically to the float probability-semantics one."""
    from spark_fuse_spark.operators.graph import pagerank, pagerank_exact

    _, df = small_graph
    f = {r.node: r.rank for r in pagerank(df, iterations=10).collect()}
    e = {r.node: r.score_micro for r in pagerank_exact(df, iterations=10).collect()}
    # nodes 0 and 4 tie exactly in both variants — break ties by node id
    # on both sides so the comparison is well-defined
    assert sorted(f, key=lambda n: (f[n], n)) == sorted(e, key=lambda n: (e[n], n))


def test_pagerank_exact_rejects_zero_iterations(spark, small_graph):
    from spark_fuse_spark.operators.graph import pagerank_exact

    _, df = small_graph
    with pytest.raises(ValueError):
        pagerank_exact(df, iterations=0)


def test_pagerank_exact_empty_edges_returns_empty_frame(spark):
    from spark_fuse_spark.operators.graph import pagerank_exact

    df = spark.createDataFrame([], "src long, dst long")
    out = pagerank_exact(df, iterations=3)
    assert out.columns == ["node", "deg", "score_micro"]
    assert out.count() == 0


def test_pagerank_empty_edges_returns_empty_frame(spark):
    df = spark.createDataFrame([], "src long, dst long")
    out = pagerank(df, iterations=3)
    assert out.columns == ["node", "rank"]
    assert dict(out.dtypes)["rank"] == "double"
    assert out.count() == 0


def test_null_endpoint_edges_are_dropped(spark, small_graph):
    """An edge with a null src or dst adds no node and moves no score."""
    from spark_fuse_spark.operators.graph import hits, pagerank_exact

    edges, df = small_graph
    with_nulls = spark.createDataFrame(edges + [(None, 2), (3, None)], "src long, dst long")

    def exact(frame):
        return sorted(map(tuple, pagerank_exact(frame, iterations=5).collect()))

    def ranks(frame):
        return {r.node: r.rank for r in pagerank(frame, iterations=5).collect()}

    def hubs_auths(frame):
        return [{r.node: r.score_micro for r in f.collect()} for f in hits(frame, iterations=3)]

    assert exact(with_nulls) == exact(df)
    assert ranks(with_nulls) == pytest.approx(ranks(df), abs=1e-12)
    assert hubs_auths(with_nulls) == hubs_auths(df)


def test_reliable_checkpoint_dir_matches_default(spark, small_graph, tmp_path):
    """``checkpoint_dir=`` switches every round to a reliable checkpoint;
    results must equal the localCheckpoint default exactly (float ranks
    up to reduction order), and the session's checkpoint directory is
    set once, not once per round."""
    from spark_fuse_spark.operators.graph import (
        connected_components,
        hits,
        label_propagation,
        pagerank_exact,
        personalized_pagerank,
    )

    _, df = small_graph
    pairs = df.select(df.src.alias("id_a"), df.dst.alias("id_b"))
    undirected = df.select(df.src.alias("u"), df.dst.alias("v"))
    seeds = spark.createDataFrame([(0,), (3,)], "node long")
    ckpt = str(tmp_path / "ckpt")

    def run(checkpoint_dir):
        cc = connected_components(pairs, checkpoint_dir=checkpoint_dir)
        pr = pagerank_exact(df, iterations=4, checkpoint_dir=checkpoint_dir)
        hubs, auths = hits(df, iterations=3, checkpoint_dir=checkpoint_dir)
        lp = label_propagation(undirected, rounds=2, checkpoint_dir=checkpoint_dir)
        ppr = personalized_pagerank(df, seeds, iterations=3, checkpoint_dir=checkpoint_dir)
        ranks = pagerank(df, iterations=4, checkpoint_dir=checkpoint_dir)
        exact = [sorted(map(tuple, f.collect())) for f in (cc, pr, hubs, auths, lp, ppr)]
        return exact, {r.node: r.rank for r in ranks.collect()}

    default, default_ranks = run(None)
    exact, ranks = run(ckpt)
    assert exact == default
    assert ranks == pytest.approx(default_ranks, abs=1e-12)
    sc = spark.sparkContext
    current = sc.getCheckpointDir()
    assert current is not None and "/ckpt/" in current
    assert run(ckpt)[0] == default
    assert sc.getCheckpointDir() == current
