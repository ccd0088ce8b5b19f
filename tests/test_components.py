"""Unit tests for connected_components (operators/components.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from geo_db_spark.operators.components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df, "src", "dst")
    return {(r["id"], r["cluster_id"]) for r in out.collect()}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_chain_converges_via_pointer_jumping(spark):
    # a 40-node path: plain propagation needs 40 rounds; pointer jumping
    # must close it within the 50-iteration cap with room to spare
    edges = [(i, i + 1) for i in range(1, 40)]
    got = _cc(spark, edges)
    assert got == {(i, 1) for i in range(1, 41)}


def test_cycle_terminates(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1)])
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_edge_direction_irrelevant(spark):
    # min id appearing on the dst side still wins
    got = _cc(spark, [(5, 2), (9, 5)])
    assert got == {(2, 2), (5, 2), (9, 2)}


def test_self_loop_singleton(spark):
    got = _cc(spark, [(7, 7)])
    assert got == {(7, 7)}


def test_converged_graph_returns_in_one_round(spark):
    """A graph with only self-loops is converged before round 1: its
    round-1 labels equal the ids, so max_iters=1 must return them."""
    df = spark.createDataFrame([(1, 1), (4, 4), (9, 9)], ["src", "dst"])
    out = connected_components(df, "src", "dst", max_iters=1)
    assert {(r["id"], r["cluster_id"]) for r in out.collect()} == {
        (1, 1), (4, 4), (9, 9)
    }


def test_nonconvergence_raises(spark):
    import pytest

    # a 40-node path cannot converge in 1 round
    edges = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, "src", "dst", max_iters=1)


def test_kcore_peel_cascades(spark):
    """The defining k-core property: peeling CASCADES. A chain hanging
    off a triangle dies one link per round (degree drops below k only
    after the outer node peels); the triangle is the exact 2-core."""
    from geo_db_spark.operators.graph_algos import kcore_peel

    # triangle 1-2-3, chain 3-4-5
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "a long, b long"
    )
    out = {r["node"]: r["degree"] for r in kcore_peel(edges, k=2, rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}  # chain fully peeled, triangle intact

    # one round is NOT enough: node 4 still alive (5 peels first)
    partial = {r["node"] for r in kcore_peel(edges, k=2, rounds=1).collect()}
    assert 4 in partial and 5 not in partial


def test_kcore_rejects_bad_params(spark):
    import pytest

    from geo_db_spark.operators.graph_algos import kcore_peel

    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError):
        kcore_peel(edges, k=0)
    with pytest.raises(ValueError):
        kcore_peel(edges, k=2, rounds=0)


def test_kcore_converged_exact_where_rounds4_insufficient(spark):
    """r7 verdict #4: rounds=None must peel to the TRUE k-core. A
    6-link chain hanging off a triangle needs 6 cascading rounds (one
    outer node dies per round) — rounds=4 provably leaves chain nodes
    alive, the converged form returns exactly the triangle."""
    from geo_db_spark.operators.graph_algos import kcore_peel

    # triangle 1-2-3, chain 3-4-5-6-7-8-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8), (8, 9)],
        "a long, b long",
    )
    bounded = {r["node"] for r in kcore_peel(edges, k=2, rounds=4).collect()}
    assert bounded > {1, 2, 3}  # provably insufficient: chain remnants alive
    exact = {
        r["node"]: r["degree"] for r in kcore_peel(edges, k=2, rounds=None).collect()
    }
    assert exact == {1: 2, 2: 2, 3: 2}


def test_kcore_converged_empty_core(spark):
    """Convergence must also terminate when the k-core is EMPTY (the
    surviving edge set peels to nothing)."""
    from geo_db_spark.operators.graph_algos import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long"  # a path has no 2-core
    )
    assert kcore_peel(edges, k=2, rounds=None).count() == 0


def _pagerank_sim(edge_list, iterations=None, damping_pct=85):
    """Pure-Python twin of pagerank_fixedpoint's integer arithmetic
    (independent of Spark — the converged form's correctness pin)."""
    from geo_db_spark.operators.graph_algos import PR_SCALE

    nodes = sorted({a for a, _ in edge_list} | {b for _, b in edge_list})
    deg = {}
    for a, _ in edge_list:
        deg[a] = deg.get(a, 0) + 1
    n = len(nodes)
    base = PR_SCALE // n
    teleport = (base * (100 - damping_pct)) // 100
    r = {i: base for i in nodes}
    it = 0
    while True:
        it += 1
        s = {i: 0 for i in nodes}
        for a, b in edge_list:
            s[b] += r[a] // deg[a]
        new = {i: teleport + (damping_pct * s[i]) // 100 for i in nodes}
        if new == r or it == iterations:
            return new
        r = new
        assert it < 10_000, "simulation not converging"


def test_pagerank_converged_exact_where_5_rounds_insufficient(spark):
    """r8 verdict next #4: iterations=None must iterate to the EXACT
    integer fixpoint. On a 12-node directed chain, rank mass takes one
    round per hop to reach the tail, so the 5-round form provably
    differs at depth >5; the converged form must equal an independent
    pure-Python fixpoint simulation of the same integer arithmetic."""
    from geo_db_spark.operators.graph_algos import pagerank_fixedpoint

    chain = [(i, i + 1) for i in range(1, 12)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    # damping 10%: per-round deltas decay 0.1x, so the exact integer
    # fixpoint lands in ~12 rounds (at the default 85% it takes ~140 —
    # same dynamics, just a slow unit test)
    want_fix = _pagerank_sim(chain, damping_pct=10)
    want_5 = _pagerank_sim(chain, iterations=5, damping_pct=10)
    assert want_5 != want_fix  # the deep chain makes 5 rounds insufficient
    got_5 = {
        r.id: r.rank_fp
        for r in pagerank_fixedpoint(edges, iterations=5, damping_pct=10).collect()
    }
    assert got_5 == want_5
    got_fix = {
        r.id: r.rank_fp
        for r in pagerank_fixedpoint(edges, iterations=None, damping_pct=10).collect()
    }
    assert got_fix == want_fix


def test_pagerank_converged_max_iterations_guard(spark):
    """The fixpoint loop must raise, not spin, if the cap is hit."""
    import pytest

    from geo_db_spark.operators.graph_algos import pagerank_fixedpoint

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="not at a fixpoint"):
        pagerank_fixedpoint(edges, iterations=None, max_iterations=2)


def test_sssp_max_rounds_guard_raises_when_radius_exceeds_oracle(spark):
    """r8 ADVICE #3: a caller pinning its fixed-depth oracle via
    max_rounds must get a LOUD error when the graph's weighted-hop
    radius outgrows it (not a silent harness mismatch)."""
    import pytest

    from geo_db_spark.operators.graph_algos import sssp_bellman_ford

    path = [(i, i + 1, 1) for i in range(1, 10)]
    edges = spark.createDataFrame(path, "a long, b long, w long")
    # radius 9 > max_rounds=4 -> raise
    with pytest.raises(ValueError, match="fixed-depth oracle"):
        sssp_bellman_ford(edges, 1, rounds=None, max_rounds=4).collect()
    # radius 9 <= max_rounds=9 -> clean convergence
    got = {
        r.node: r.dist
        for r in sssp_bellman_ford(edges, 1, rounds=None, max_rounds=9).collect()
    }
    assert got == {i: i - 1 for i in range(1, 11)}
