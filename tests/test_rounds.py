"""The loop-round primitive (operators/rounds.py): fixpoint's limit rules,
and pinned Spark job counts for every iterative operator built on it —
one job per round is a property a refactor can silently lose."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from geo_db_spark.operators import closure, components, graph_algos, similarity, spatial
from geo_db_spark.operators.rounds import fixpoint


def _countdown(state, _n):
    return state - 1, state - 1 == 0


def test_fixpoint_converging_in_last_round_returns():
    assert fixpoint(_countdown, 3, 3, limit_error=RuntimeError("limit")) == 0


def test_fixpoint_limit_raises_or_returns():
    with pytest.raises(RuntimeError, match="limit"):
        fixpoint(_countdown, 3, 2, limit_error=RuntimeError("limit"))
    assert fixpoint(_countdown, 3, 2) == 1
    assert fixpoint(_countdown, 3, 0) == 3


def test_fixpoint_unbounded_and_round_numbers():
    seen = []

    def step(state, n):
        seen.append(n)
        return state, n == 5

    fixpoint(step, None, None)
    assert seen == [1, 2, 3, 4, 5]


def _path(spark, n, cols="src long, dst long"):
    return spark.createDataFrame([(i, i + 1) for i in range(1, n)], cols)


def _emb(spark, n=24, dim=4):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[((F.col("id") * (d + 3)) % 11 / 10.0).cast("double") for d in range(dim)]
        ).alias("embedding"),
    )


def _tree(spark):
    edges = spark.createDataFrame(
        [(i, i // 2) for i in range(2, 16)] + [(1, 0)], "id long, parent long"
    )
    return edges, spark.createDataFrame([(i,) for i in (9, 12, 15)], "id long")


def _points(spark):
    pts = spark.createDataFrame(
        [(i, (i * 7) % 40 - 20.0, (i * 13) % 80 - 40.0) for i in range(12)],
        "point_id long, lat double, lon double",
    )
    sites = spark.createDataFrame(
        [(10, -30.0, -60.0), (20, 35.0, 50.0), (30, 0.0, 0.0)],
        "site_id long, lat double, lon double",
    )
    return pts, sites


# name -> (operator call, jobs). Each count includes the collect() of
# the result. kmeans_grouped was 7 with a distinct-shuffle seed pick;
# every other count equals the hand-rolled loops this module replaced.
CASES = {
    "connected_components": (
        lambda s: components.connected_components(
            _path(s, 6).unionByName(s.createDataFrame([(20, 21)], "src long, dst long"))
        ),
        4,
    ),
    "closure_loop": (lambda s: closure.transitive_closure_loop(*_tree(s)), 8),
    "closure_doubling": (lambda s: closure.transitive_closure_doubling(*_tree(s)), 5),
    "pagerank_fixed": (
        lambda s: graph_algos.pagerank_fixedpoint(_path(s, 6), iterations=3), 2,
    ),
    "pagerank_converge": (
        lambda s: graph_algos.pagerank_fixedpoint(
            _path(s, 6), iterations=None, damping_pct=10
        ),
        9,
    ),
    "sssp_fixed": (
        lambda s: graph_algos.sssp_bellman_ford(
            _path(s, 4).withColumn("w", F.lit(1)), 1, "src", "dst", rounds=6
        ),
        5,
    ),
    "sssp_converge": (
        lambda s: graph_algos.sssp_bellman_ford(
            _path(s, 5).withColumn("w", F.lit(1)), 1, "src", "dst", rounds=None
        ),
        6,
    ),
    "kcore_fixed": (
        lambda s: graph_algos.kcore_peel(_path(s, 6, "a long, b long"), k=2, rounds=2),
        1,
    ),
    "kcore_converge": (
        lambda s: graph_algos.kcore_peel(
            _path(s, 6, "a long, b long"), k=2, rounds=None
        ),
        5,
    ),
    "kmeans": (
        lambda s: similarity.kmeans_fixed_rounds(_emb(s), k=3, rounds=2)[0], 5,
    ),
    "kmeans_grouped": (
        lambda s: similarity.kmeans_fixed_rounds_grouped(
            _emb(s).join(s.range(2).withColumnRenamed("id", "m")), k=3, rounds=2,
            group_col="m",
        )[0],
        6,
    ),
    "grid_knn_exact": (
        lambda s: spatial.grid_knn_join_exact(*_points(s), k=2, cell_deg=5.0), 11,
    ),
}

# job counts depend on the physical configuration: pin the conftest one
# (other tests may have left a tune()d session behind)
_PINNED_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.autoBroadcastJoinThreshold": "10485760",
}
_group_ids = itertools.count()


@pytest.mark.parametrize("name", sorted(CASES))
def test_loop_job_counts_pinned(spark, name):
    call, want = CASES[name]
    sc = spark.sparkContext
    saved = {k: spark.conf.get(k, None) for k in _PINNED_CONFS}
    group = f"rounds-pin-{name}-{next(_group_ids)}"
    for k, v in _PINNED_CONFS.items():
        spark.conf.set(k, v)
    sc.setJobGroup(group, name)
    try:
        call(spark).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    got = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == want, f"{name}: {got} jobs"
