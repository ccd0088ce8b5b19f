"""Mirror of the driver's correctness gate at sf0.001 (fast) — every
workload query must match its DuckDB oracle on count, columns, and
order-insensitive values, and plan within its plan-census row."""

from __future__ import annotations

import json

import pytest

from geo_db_spark import workload
from geo_db_spark.plans.report import plan_stats
from geo_db_spark.verify import CENSUS, run_all
from tests.conftest import SF_SMOKE

NAMES = sorted(workload.queries().keys())

with open(CENSUS) as _f:
    PLAN_CENSUS = json.load(_f)

# the census columns a query may not exceed: a stray shuffle, a new
# single-partition funnel or a Python node in a JVM-only query
BUDGETED = ("exchanges", "single_partition", "python_nodes")


def test_every_query_has_oracle():
    """Since r5 every declared query carries a full value oracle
    (mm_feature_extract gained one via exact int64 chunk sums)."""
    oracles = workload.oracle_sql()
    missing = [n for n in workload.queries() if n not in oracles]
    assert missing == [], f"queries without oracle: {missing}"


def test_no_hugeint_oracle_columns():
    """The driver canonicalizes oracle results through pandas; DuckDB HUGEINT
    (what SUM(CASE..) over ints returns) maps to float64 there while Spark's
    side stays int64 — the value hash then fails even on equal values (the r3
    q12/g14 incident). Every oracle must CAST such sums to BIGINT. Cheap:
    DuckDB-only, no Spark session."""
    from geo_db_spark.verify import duckdb_con

    con = duckdb_con(SF_SMOKE)
    bad = {}
    for name, sql in workload.oracle_sql().items():
        rel = con.sql(sql)
        cols = [c for c, t in zip(rel.columns, rel.types) if str(t) in ("HUGEINT", "UHUGEINT")]
        if cols:
            bad[name] = cols
    assert bad == {}, f"oracles with HUGEINT top-level columns (driver canon maps to float64): {bad}"


# r14: the three slowest oracle replays (1-3 min each — DuckDB replays
# a full CC / residual-PQ training chain) are `slow`-marked so the
# driver-facing default run fits its window; the driver's OWN 212-query
# oracle gate still covers them every round, and the slow lane runs
# them locally per commit batch.
SLOW_ORACLE = {
    "emb_semdedup_survivors_recovered",
    "ann_ivf_pq_residual_topk",
    "dedup_simjoin_survivors",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in SLOW_ORACLE else n
        for n in NAMES
    ],
)
def test_query_matches_oracle(spark, name):
    results = run_all(spark, SF_SMOKE, only=[name])
    assert len(results) == 1
    r = results[0]
    assert r.ok, f"{name}: {r.errors}"
    assert r.spark_rows > 0, f"{name}: empty result"
    row = PLAN_CENSUS[name]
    over = {k: (r.plan[k], row[k]) for k in BUDGETED if r.plan[k] > row[k]}
    assert not over, (
        f"{name}: plan exceeds its census row (got, pinned): {over}. An "
        "intended plan change reruns python -m geo_db_spark.verify "
        "--write-census and commits the tests/plan_census.json diff."
    )


def test_census_rows_match_registry():
    """One census row per registered query: a new query without a row
    fails, and so does a row left behind by a removed query."""
    assert sorted(PLAN_CENSUS) == NAMES


def test_plan_stats_ignores_session_cache(spark):
    """Repeated constructs of a query that caches its own sub-frames read
    one plan row, and a frame reads the same row after it has run."""
    fn = workload.queries()["dedup_minhash_lsh_pairs"]
    spark.catalog.clearCache()
    rows = [plan_stats(fn(spark, SF_SMOKE)) for _ in range(3)]
    df = fn(spark, SF_SMOKE)
    rows.append(plan_stats(df))
    df.collect()
    rows.append(plan_stats(df))
    assert rows == [rows[0]] * 5, rows


def test_registry_matches_declared_tally():
    """r6 verdict #6: one source of truth for the query count. Any
    add/remove must touch workload.N_QUERIES in the same commit, which
    forces README's citation of it to stay honest."""
    qs = workload.queries()
    assert len(qs) == workload.N_QUERIES, (
        f"registry has {len(qs)} queries but workload.N_QUERIES says "
        f"{workload.N_QUERIES} — update the constant (and README)"
    )
    assert len(workload.oracle_sql()) == workload.N_QUERIES
