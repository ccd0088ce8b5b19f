"""SparkSession factory and runtime tuning.

Design notes (100 TB target):
- AQE on: runtime coalesce of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts when the
  data is 1000x the local test scale.
- Session timezone pinned to UTC so timestamp semantics are stable across
  the test oracle (DuckDB, naive timestamps) and any cluster TZ.
- Arrow enabled for the (rare) Pandas-UDF paths; built-in expressions are
  preferred everywhere (whole-stage codegen).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs we want on every session, including sessions we
# did not create (the correctness driver hands us one).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # runtime Bloom-filter join prefilter (operators/packing.incremental_dedup
    # relies on it as its scale story; default-on in Spark 4, pinned here in
    # case a cluster profile disabled it)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # ANSI off: the reference's semantics are warn-and-skip on malformed
    # data (SURVEY.md §1.4), i.e. NULL on bad cast, not an error.
    "spark.sql.ansi.enabled": "false",
    # Spark's default, pinned EXPLICITLY so tune() restores it after a
    # query ran under tune_expansion_heavy() — every query calls tune()
    # on entry, so the expansion profile never leaks across queries.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
}

# AQE's coalescePartitions sizes post-shuffle partitions by COMPRESSED
# map-output bytes — a wild underestimate for stages whose in-memory
# state EXPANDS (duplicate-heavy skinny pair rows compress ~50x while
# the hash/sort state does not). Measured at the round-10 100x
# containment probe (SCALE.md "second-decade scale probe"): the
# candidate-pair aggregation coalesced to 33 tasks and spilled
# ~30-45 GB from a 1.7 GB input (one attempt died disk-full) under the
# 64m default; an 8m advisory re-split it to 123 tasks, wall
# 2035 -> 1403 s, identical output. Queries with expansion-heavy
# aggregations opt in via tune_expansion_heavy(spark) AFTER tune().
_EXPANSION_HEAVY_CONFS = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided or ours).

    ``SPARK_GRAFT_TUNE_OVERRIDES`` ("k=v,k=v") is applied LAST: every
    query calls tune() on entry, so a conf tune() pins (AQE, Arrow,
    timezone, ...) cannot be changed per-run any other way. Needed by
    fixed-plan measurement (the r12 variance probe runs the suffix
    build with spark.sql.adaptive.enabled=false to separate AQE plan
    variation from JIT/GC) and by cluster profiles that disagree with
    a pinned default."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this build; startup conf covers it
    # NOTE: values may not contain ',' (the pair separator) — confs like
    # extraJavaOptions need SPARK_GRAFT_BUILDER_CONFS' builder path anyway.
    for kv in filter(None, os.environ.get("SPARK_GRAFT_TUNE_OVERRIDES", "").split(",")):
        k, _, v = kv.partition("=")
        try:
            spark.conf.set(k.strip(), v.strip())
        except Exception as exc:  # surface, don't swallow: this is a
            # measurement escape hatch — a silently dropped override
            # invalidates the experiment it was set for (r12 advice)
            import sys

            print(
                f"SPARK_GRAFT_TUNE_OVERRIDES: could not set {k.strip()!r}: {exc}",
                file=sys.stderr,
            )
    return spark


def tune_expansion_heavy(spark: SparkSession) -> SparkSession:
    """Opt-in profile for queries dominated by an EXPANSION-HEAVY
    aggregation (shuffle rows that compress far better than their
    in-memory aggregation state): shrinks AQE's advisory partition
    size so coalescing keeps enough tasks to hold the expanded state.
    Call AFTER tune(); tune() restores the default, so the profile is
    scoped to the calling query's execution."""
    for k, v in _EXPANSION_HEAVY_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def _half_mem() -> str:
    """Half of SPARK_GRAFT_DRIVER_MEM (default 8g) in MB — the default
    spark.driver.maxResultSize. Spark parses a bare spark.driver.memory
    number as MiB (ByteUnit.MiB), so the bare branch matches that here
    (r12 advice: treating it as bytes computed maxResultSize from e.g.
    8192 BYTES while Spark gave the driver an 8 GiB heap, clamping every
    collect to the 1m floor); k/m/g/t suffixes are binary."""
    raw = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g").strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    try:
        if raw and raw[-1] in mult:
            nbytes = int(float(raw[:-1]) * mult[raw[-1]])
        else:
            nbytes = int(raw) << 20  # bare number = MiB, as Spark parses it
    except ValueError:
        nbytes = 8 << 30
    return f"{max(1, nbytes // 2 // (1 << 20))}m"


def get_spark(app_name: str = "geo_db_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or get) a tuned SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default all cores). On a
    real cluster the same code runs unchanged: nothing here assumes a
    single JVM.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # the 100x suffix-array probe died on the 1g default: eager
        # localCheckpoint of a ~115M-row round frame ships task results
        # past it (builder-level conf, so raised here, not in tune();
        # local mode shares one JVM — the "driver" IS the executor pool).
        # Default = HALF the driver heap (r11 advice: a cap equal to the
        # heap lets a near-cap result OOM the JVM before the guard
        # fires, turning a clean 'result too large' error into a heap
        # death); SPARK_GRAFT_MAX_RESULT overrides, and must stay well
        # below SPARK_GRAFT_DRIVER_MEM.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", _half_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Liveness detection relaxed for big-heap local mode (r12): the
        # 100x suffix-array build twice killed ITSELF — 32 saturated
        # cores + 96g-heap GC pauses starved the heartbeat thread past
        # 60 misses of the 10s default and the executor exited
        # ("unable to send heartbeats to driver more than 60 times"),
        # taking the shared-JVM SparkContext down mid-localCheckpoint.
        # In local mode a heartbeat can only detect the process killing
        # itself, so aggressive liveness is pure downside; on a real
        # cluster 30s/600s are still conservative (heartbeat must stay
        # well under network.timeout).
        .config("spark.executor.heartbeatInterval", "30s")
        .config("spark.network.timeout", "600s")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # builder-level escape hatch (the spark-submit --conf equivalent):
    # applied LAST, for confs tune() cannot set at runtime (timeouts,
    # memory, codegen) — the runtime sibling is SPARK_GRAFT_TUNE_OVERRIDES
    for kv in filter(None, os.environ.get("SPARK_GRAFT_BUILDER_CONFS", "").split(",")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    return tune(builder.getOrCreate())


def smoke_session(app_name: str) -> SparkSession:
    """The small-fixture session shared by the test suite and the plan
    census (``python -m geo_db_spark.verify --write-census``): one
    shuffle partition, AQE off at entry. Query constructors call tune(),
    which turns AQE back on, so a query's plan is always planned with
    AQE on."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name, shuffle_partitions=1)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return spark
