"""Local mirror of the driver's correctness gate: run each workload query
on Spark and its oracle SQL on DuckDB over the same parquet tables, then
compare row count, column names, and order-insensitive values.

Used by tests/test_workload_oracle.py so regressions surface before the
driver's per-round CORRECTNESS check. The same sweep records each
query's plan row (``plan_stats`` before execution); the test holds every
query to its row in ``tests/plan_census.json``, which
``python -m geo_db_spark.verify --write-census`` rewrites.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import SparkSession

from geo_db_spark.io import TABLES
from geo_db_spark.plans.report import plan_stats

CENSUS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tests", "plan_census.json")


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    errors: list[str] = field(default_factory=list)
    plan: dict = field(default_factory=dict)


def _norm_cell(v):
    # normalize timestamps/dates/Decimals to strings; doubles to repr
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (int, str, bool)):
        return v
    return str(v)


def _norm_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), v) for v in t),
    )


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _pandas_kind(dtype) -> str:
    """Collapse a pandas dtype to a coarse kind for driver-canon checks."""
    k = dtype.kind
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    return k  # O, b, M, m, ... — not part of the int/float landmine


def dtype_mismatches(spark_pdf, oracle_pdf) -> list[str]:
    """The driver canonicalizes both sides through pandas before hashing, so a
    column that is int64 on one side and float64 on the other hash-mismatches
    even when every value is equal (the r3 HUGEINT incident: DuckDB SUM(CASE..)
    over ints returns HUGEINT, which pandas maps to float64, vs Spark's int64).
    The repo's fetchall compare cannot see this — this check mirrors the driver.
    Object-dtype vs float is deliberately NOT flagged: DuckDB DECIMAL->float64
    vs Spark Decimal-object passes the driver (q1 has always been green).
    """
    out = []
    for c in sorted(set(spark_pdf.columns) & set(oracle_pdf.columns)):
        sk = _pandas_kind(spark_pdf[c].dtype)
        ok = _pandas_kind(oracle_pdf[c].dtype)
        if {sk, ok} == {"int", "float"}:
            out.append(f"pandas dtype kind differs for '{c}': spark={sk} oracle={ok} (driver hash would fail)")
    return out


def canon_hazards(pdf) -> list[str]:
    """Cells the driver's pandas canonicalization cannot factorize (ndarray,
    list, dict) crash its check outright — the r2 mm_feature_extract incident.
    """
    import pandas as pd

    out = []
    for c in pdf.columns:
        if pdf[c].dtype.kind != "O":
            continue
        try:
            pd.factorize(pdf[c])
        except TypeError as e:
            out.append(f"column '{c}' has unhashable cells (driver canon would crash): {e}")
    return out


def _spark_pandas(rows, schema, spark: SparkSession):
    """The frame ``toPandas()`` would build, from rows already collected:
    pyspark's per-column converters, structs as dicts (its Arrow path)."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    names, tz = schema.names, spark.conf.get("spark.sql.session.timeZone")
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=names) if rows else pd.DataFrame(columns=names)
    convert = [
        _create_converter_to_pandas(f.dataType, f.nullable, timezone=tz, struct_in_pandas="dict",
                                    error_on_duplicated_field_names=False, timestamp_utc_localized=False)
        for f in schema.fields
    ]
    return pd.concat([conv(col) for conv, (_, col) in zip(convert, pdf.items())], axis="columns")


def compare_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    name: str,
    fn,
    sql: str,
    sf_dir: str,
) -> CompareResult:
    """Run ``name`` once on each side and compare columns, row count,
    normalized values, pandas dtype kinds and canon hazards: Spark runs
    one ``collect()``; DuckDB materializes the oracle into a temp table
    once and reads rows and pandas frame from it. ``res.plan`` is
    ``plan_stats`` of the unexecuted frame, the row the plan census pins."""
    res = CompareResult(name=name, ok=True)
    sdf = fn(spark, sf_dir)
    res.plan = plan_stats(sdf)
    s_rows = sdf.collect()
    s_cols = sdf.columns
    res.spark_rows = len(s_rows)
    spark_pdf = _spark_pandas(s_rows, sdf.schema, spark)
    con.execute(f"CREATE OR REPLACE TEMP TABLE __oracle AS {sql}")
    rel = con.table("__oracle")
    o_cols = rel.columns
    o_rows = rel.fetchall()
    res.oracle_rows = len(o_rows)
    if sorted(s_cols) != sorted(o_cols):
        res.ok = False
        res.errors.append(f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}")
        return res
    if res.spark_rows != res.oracle_rows:
        res.ok = False
        res.errors.append(f"row count differs: spark={res.spark_rows} oracle={res.oracle_rows}")
        return res
    sn = _norm_rows([tuple(r) for r in s_rows], s_cols)
    on = _norm_rows(o_rows, o_cols)
    if sn != on:
        res.ok = False
        diffs = [i for i, (a, b) in enumerate(zip(sn, on)) if a != b][:3]
        for i in diffs:
            res.errors.append(f"row {i}: spark={sn[i]} oracle={on[i]}")
    # Mirror the driver's pandas canonicalization: dtype-kind drift between the
    # two sides fails the driver's value hash even when fetchall values match.
    mism = dtype_mismatches(spark_pdf, rel.fetchdf()) + canon_hazards(spark_pdf)
    if mism:
        res.ok = False
        res.errors.extend(mism)
    return res


def run_all(spark: SparkSession, sf_dir: str, only: list[str] | None = None) -> list[CompareResult]:
    from geo_db_spark import workload

    qs = workload.queries()
    oracles = workload.oracle_sql()
    con = duckdb_con(sf_dir)
    out = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # every query plans against an empty cache: its plan row is its
        # cold plan, and the sweep does not pile up cached frames
        spark.catalog.clearCache()
        try:
            out.append(compare_query(spark, con, name, fn, oracles[name], sf_dir))
        except Exception as e:  # surface, don't abort the sweep
            out.append(CompareResult(name=name, ok=False, errors=[f"exception: {e}"]))
    return out


def _write_census() -> None:
    """Sweep every query over the oracle test's sf0.001 tables, in the
    test suite's session, and write each plan row to
    ``tests/plan_census.json``; writes nothing if any oracle fails."""
    from geo_db_spark.session import smoke_session
    from tests.conftest import SF_SMOKE

    spark = smoke_session("plan_census")
    try:
        results = run_all(spark, SF_SMOKE)
    finally:
        spark.stop()
    bad = [r for r in results if not r.ok]
    for r in bad:
        print(f"FAIL {r.name}: {r.errors[:2]}")
    if bad:
        raise SystemExit(f"{len(bad)} oracle(s) failed; census not written")
    rows = sorted(f" {json.dumps(r.name)}: {json.dumps(r.plan)}" for r in results)
    with open(CENSUS, "w") as f:  # one query per line: the diff reads per query
        f.write("{\n" + ",\n".join(rows) + "\n}\n")
    print(f"wrote {len(results)} rows to {CENSUS}")


if __name__ == "__main__":
    import sys

    if sys.argv[1:] != ["--write-census"]:
        raise SystemExit("usage: python -m geo_db_spark.verify --write-census")
    _write_census()
