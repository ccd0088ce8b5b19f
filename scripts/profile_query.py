#!/usr/bin/env python
"""Profile declared queries one at a time (optimization-round tooling).

Usage: python scripts/profile_query.py [--runs N] [--noop] [--plan-dir DIR] q1 q2 ...

For each query: build the DataFrame, run it ``--runs`` times with the
bench's xxhash64 full-evaluation force (or the noop sink with ``--noop``),
print per-run walls, jobs, stages and busy share, and (with
``--plan-dir``) write ``<name>.txt`` with the ``explain("formatted")``
output under a one-line ``plan_stats`` row (the counts
tests/plan_census.json pins).
Each run is one ``perfbench.spans.Tracer`` span: its own Spark job group
(so the timeline is attributable), counted from the status store.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--gc", action="store_true",
                    help="drop python refs + System.gc() between queries "
                         "(isolates per-query cost from accumulated "
                         "localCheckpoint blocks)")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from geo_db_spark import workload
    from geo_db_spark.plans.report import plan_stats
    from geo_db_spark.session import get_spark
    from perfbench.spans import Tracer

    spark = get_spark("profile_query")
    tracer = Tracer(spark, cores=spark.sparkContext.defaultParallelism)
    qs = workload.queries()

    def force(df):
        if args.noop:
            df.write.format("noop").mode("overwrite").save()
            return -1
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("chk"),
        ).collect()[0]
        return row["n"]

    # warm the JVM + parquet footers
    qs["q6_revenue_forecast"](spark, args.sf_dir).collect()

    for name in args.names:
        fn = qs[name]
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            stats = plan_stats(df)
            with open(os.path.join(args.plan_dir, f"{name}.txt"), "w") as f:
                f.write(f"-- plan_stats: {stats}\n")
                f.write(plan)
            print(f"{name}: plan -> {args.plan_dir}/{name}.txt  plan_stats={stats}")
        if not args.runs:
            continue
        runs = []
        for i in range(args.runs):
            with tracer.span(f"{name} run{i}") as rec:
                n = force(fn(spark, args.sf_dir))
            runs.append(rec)
        walls = [round(r["wall_s"], 3) for r in runs]
        print(
            f"{name}: walls={walls} min={min(walls)} jobs={[r['jobs'] for r in runs]} "
            f"stages={[r['stages'] for r in runs]} "
            f"busy={[round(r['busy_share'], 2) for r in runs]} rows={n} "
            f"loadavg={os.getloadavg()[0]:.2f}"
        )
        if args.gc:
            import gc

            gc.collect()
            spark._jvm.System.gc()
    spark.stop()


if __name__ == "__main__":
    main()
