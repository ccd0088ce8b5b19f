#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``, the pinned expected outputs.

    python3 perfbench/pin.py

For each mix query and data scale it runs the query's DuckDB oracle
through ``geo_db_spark.verify.compare_query`` and, only if they match,
pins the digest (row count, Σxxhash64) of the Spark result; every pass
of a benchmark run is then checked against that digest. It also pins
the canonical content hash of a ``geo_build`` build of the default seed
at each scale. Re-pin only for a change that alters outputs on purpose,
and review the diff of expected.json.
"""

from __future__ import annotations

import json
import os
import sys

import run

DEFAULT_SEED = 1


def main() -> int:
    cores = os.cpu_count() or 1
    work = os.path.join(run.WORK, "pin")
    run._prepare_env(work, cores)
    import workloads as wl
    from geo_db_spark import verify, workload
    from geo_db_spark.session import get_spark
    from spans import Tracer

    spark = get_spark("perfbench-pin", shuffle_partitions=cores)
    try:
        fns, oracles = workload.queries(), workload.oracle_sql()
        pinned: dict = {"queries": {}, "geo_build": {}}
        for scale, (_, sf) in wl.SCALES.items():
            sf_dir = os.path.join(wl.DATA, sf)
            con = verify.duckdb_con(sf_dir)
            pinned["queries"][sf] = {}
            for name in wl.OPERATOR_MIX:
                res = verify.compare_query(spark, con, name, fns[name], oracles[name], sf_dir)
                if not res.ok:
                    print(f"{sf} {name}: oracle mismatch: {res.errors}", file=sys.stderr)
                    return 1
                pinned["queries"][sf][name] = list(wl.digest(fns[name](spark, sf_dir)))
                print(f"{sf} {name}: oracle ok, {res.spark_rows} rows", flush=True)
            out = wl.Outcome()
            build = wl.GeoBuild(spark, Tracer(spark, cores, enabled=False), work, DEFAULT_SEED, scale, {})
            build.run_pass(out, 0)
            if out.failed:
                print(f"geo_build {scale}: {out.errors}", file=sys.stderr)
                return 1
            pinned["geo_build"][f"{scale}/seed{DEFAULT_SEED}"] = out.info["builds"][0]["content_hash"]
            print(f"geo_build {scale}: {pinned['geo_build']}", flush=True)
    finally:
        run._stop(spark)
    with open(wl.EXPECTED_PATH, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
