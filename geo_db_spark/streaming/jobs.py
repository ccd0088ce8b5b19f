"""Structured Streaming jobs over the events stream.

The reference has no event-time semantics — its "streaming" is a
resumable single-pass batch ingest (SURVEY.md §2-E note). These are
engine-growth operators: watermarked tumbling windows, session windows,
and a custom stateful operator (applyInPandasWithState), each written so
the SAME transformation runs on a batch DataFrame (tests/oracles) and on
a readStream DataFrame (production).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
    encoding: str | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Events files come in two encodings (TESTDATA.md changed between
    rounds): parquet TIMESTAMP(NANOS), which Spark's reader only accepts
    as long (spark.sql.legacy.parquet.nanosAsLong), and plain µs
    timestamps. readStream needs the schema up front; pass
    ``encoding='nanos'|'micros'`` when you know it, else the directory
    is probed with a footer-only batch read — exactly io._load_events'
    dtype switch. An EMPTY directory (normal before the first shard
    arrives) probes as ``micros`` instead of raising. The legacy
    nanosAsLong conf is only left set when a nanos stream actually needs
    it at scan time; a micros probe restores the previous value."""
    if encoding is None:
        from pyspark.errors import AnalysisException

        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            nanos = dict(spark.read.parquet(events_dir).dtypes).get("ts") == "bigint"
        except AnalysisException:
            nanos = False  # no files yet: stream starts on the µs default
        encoding = "nanos" if nanos else "micros"
        if not nanos:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
    elif encoding == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if encoding not in ("nanos", "micros"):
        raise ValueError(f"encoding must be 'nanos' or 'micros', got {encoding!r}")
    reader = spark.readStream
    if max_files_per_trigger:
        # SOURCE option (ignored on the sink): bounds each micro-batch's
        # file admission — with availableNow this is how multi-batch
        # watermark progression is exercised in tests
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if encoding == "nanos":
        raw = reader.schema(_events_schema(T.LongType())).parquet(events_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return reader.schema(_events_schema(T.TimestampType())).parquet(events_dir)


def windowed_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type with a watermark
    for late data. Works identically on batch and streaming inputs
    (the batch twin is workload.ops.w2_tumbling_window_counts)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("w_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def rate_limit_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming dedup: keep at most one event per (user_id, event_type,
    minute). On a stream this is dropDuplicatesWithinWatermark — state
    per key is retained only until the watermark passes the key's
    minute, so state size is bounded by the watermark horizon, not the
    stream length (the 100 TB/day requirement). On batch input the twin
    is the deterministic min-(ts,event_id) pick per key
    (workload.ops.w4_rate_limit_dedup, oracle-gated); WITHIN a
    micro-batch the streaming winner is arrival-order-dependent, so
    stream==batch tests compare the surviving KEY set."""
    keyed = events.withColumn("minute", F.date_trunc("minute", F.col("ts")))
    if keyed.isStreaming:
        return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["user_id", "event_type", "minute"]
        )
    return keyed.dropDuplicates(["user_id", "event_type", "minute"])


def purchase_click_stream_join(
    purchases: DataFrame, clicks: DataFrame, lookback_hours: int = 24
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding ``lookback_hours``. Both sides are
    watermarked so the engine can bound join state: clicks older than
    the lookback plus slack are evicted, purchases after 1 hour. The
    batch twin (same semantics, bucketed equi-join plan) is
    workload.ops.g9_range_join_clicks, oracle-gated."""
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", f"{lookback_hours + 1} hours")
    )
    return p.join(
        c,
        F.expr(
            f"p_user_id = c_user_id AND "
            f"c_ts BETWEEN p_ts - INTERVAL {lookback_hours} HOURS AND p_ts"
        ),
        "inner",
    ).select("p_event_id", "p_user_id", "p_ts", "c_event_id", "c_ts", "c_value")


def click_impression_stream_join(
    clicks: DataFrame,
    impressions: DataFrame,
    window_minutes: int = 10,
    late_minutes: int = 30,
    impression_type: str = "view",
    how: str = "inner",
) -> DataFrame:
    """TWO-SIDED stream-stream interval join (r6 verdict #5): each click
    matched to the same user's impressions within ±``window_minutes`` —
    attribution both ways (an impression shortly AFTER a click matters
    for dedup/fraud, not just the preceding one), unlike
    `purchase_click_stream_join`'s one-sided lookback. The driver events
    table has no "impression" type, so the impression side defaults to
    ``view`` rows.

    State bounds: both sides carry a ``late_minutes`` watermark, and the
    symmetric range constraint lets the engine evict a click once the
    impression-side watermark passes c_ts + window (and vice versa) —
    state is O(rate x (window + lateness)) per side, never unbounded.
    Input rows arriving more than ``late_minutes`` behind the watermark
    are DROPPED by the state store, never joined (tested); duplicate
    events are NOT collapsed — each input copy matches independently
    (multiplicity preserved; dedup is `rate_limit_dedup`'s job upstream,
    also tested).

    ``how="left_outer"`` (r7) additionally surfaces UNMATCHED clicks —
    the organic-conversion row attribution needs. The engine can only
    declare a click unmatched once it is provably final: the
    null-extended row emits when the watermark passes c_ts + window +
    lateness (state eviction), so outer rows trail the inner ones by
    exactly the eviction delay — the documented stream-outer-join
    latency tradeoff. In availableNow/terminating runs, trailing
    clicks whose eviction time is beyond the final watermark are NOT
    emitted (they are not yet provably unmatched); tests push the
    watermark with frontier events to drain them. State bound is the
    same O(rate x (window + lateness)) as the inner form."""
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            f"how must be 'inner', 'left_outer' or 'full_outer', got {how!r}"
        )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", f"{late_minutes} minutes")
    )
    i = (
        impressions.filter(F.col("event_type") == impression_type)
        .select(
            F.col("event_id").alias("i_event_id"),
            F.col("user_id").alias("i_user_id"),
            F.col("ts").alias("i_ts"),
            F.col("value").alias("i_value"),
        )
        .withWatermark("i_ts", f"{late_minutes} minutes")
    )
    joined = c.join(
        i,
        F.expr(
            f"c_user_id = i_user_id AND "
            f"i_ts BETWEEN c_ts - INTERVAL {window_minutes} MINUTES "
            f"AND c_ts + INTERVAL {window_minutes} MINUTES"
        ),
        how,
    )
    cols = ["c_event_id", "c_user_id", "c_ts", "i_event_id", "i_ts", "i_value"]
    if how == "full_outer":
        # r7b: unmatched IMPRESSIONS also surface (impressions that drove
        # no click — the wasted-spend rows); their c_* side is null, so a
        # coalesced user_id keeps every row attributable. Same eviction
        # rule both ways: a row emits null-extended only once the
        # opposite side's watermark proves it final.
        return joined.select(
            *cols, F.coalesce("c_user_id", "i_user_id").alias("user_id")
        )
    return joined.select(*cols)


def enrich_stream_with_dim(
    events: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    how: str = "inner",
) -> DataFrame:
    """Stream-static join: enrich an event stream with a dimension
    snapshot — the lookup pattern of every event pipeline (events ×
    users/products/geo). Spark re-plans the static side per micro-batch,
    so a dimension parquet refreshed in place is picked up by the NEXT
    batch without restarting the stream; no watermark is needed because
    the static side holds no stream state.

    Left joins keep unmatched events (late-arriving dimension rows catch
    up on re-ingest); inner drops them. Stream-side outer joins against
    a static frame need no watermark either — only stream-stream outer
    joins do. At 100 TB the dimension is usually broadcast-sized per
    executor; when it is not, the micro-batch hash-join shuffles only
    that batch's events, never the accumulated stream."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    return events.join(dim, key, how)


def maintain_windowed_rollup(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Continuous-aggregate maintenance: keep a parquet rollup of
    windowed_event_counts up to date from the stream via foreachBatch.

    Complete-mode aggregate + atomic overwrite per micro-batch is the
    simple-and-correct maintenance strategy while the aggregate is
    dimension-table-sized (windows x event_types); readers always see a
    consistent snapshot. When the rollup itself outgrows overwrite,
    switch the writer to update-mode upserts keyed on (w_start,
    event_type) against a table format with row-level ops — the
    transformation side stays identical. Checkpointing makes the
    maintenance resumable: a restarted job continues from the last
    committed batch instead of reprocessing the stream.
    """
    return _overwrite_sink(
        windowed_event_counts(stream, watermark=watermark), out_dir, checkpoint_dir, available_now
    )


def _overwrite_sink(
    agg: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool,
    per_batch: Callable[[DataFrame], DataFrame] | None = None,
):
    """The rollup-maintenance sink of maintain_windowed_rollup and the
    run_streaming_* jobs: run the streaming aggregate ``agg`` in complete
    mode and overwrite ``out_dir`` with each micro-batch (after
    ``per_batch(batch_df)`` when given), checkpointed in
    ``checkpoint_dir``; ``available_now`` drains what is there and stops."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = per_batch(batch_df) if per_batch else batch_df
        out.write.mode("overwrite").parquet(out_dir)

    writer = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_GAP_MINUTES = 30

_SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)


def sessionize_stateful(events: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES) -> DataFrame:
    """Custom stateful operator: per-user sessionization with an
    inactivity gap, via applyInPandasWithState (streaming) — the pattern
    for operators Spark's built-ins can't express. For batch inputs the
    equivalent is F.session_window (see workload.ops.w3_sessionize).

    Emits closed sessions (user_id, session_start, session_end, n_events,
    sum_value) when the processing-time timeout fires after the gap.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start, end, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="us")],
                    "session_end": [pd.Timestamp(end, unit="us")],
                    "n_events": [n],
                    "sum_value": [sv],
                }
            )
            return
        rows = pd.concat(list(pdfs))
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()  # ns -> µs
        vals = rows["value"].tolist()
        pairs = sorted(zip(ts_us, vals))
        if state.exists:
            start, end, n, sv = state.get
        else:
            # fresh state anchors to the FIRST event, not max(ts): seeding
            # end=max(batch) would make `t - end > gap` unreachable inside
            # the first micro-batch, collapsing a new user's multi-gap
            # events into one session (diverging from F.session_window).
            start, end, n, sv = pairs[0][0], pairs[0][0], 0, 0.0
        closed = []
        for t, v in pairs:
            if n > 0 and t - end > gap_ms * 1000:
                closed.append((start, end, n, sv))
                start, end, n, sv = t, t, 0, 0.0
            start, end = min(start, t), max(end, t)
            n += 1
            sv += v
        state.update((start, end, n, sv))
        state.setTimeoutDuration(gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in closed],
                    "n_events": [c for _, _, c, _ in closed],
                    "sum_value": [v for _, _, _, v in closed],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_SCHEMA,
        stateStructType="start long, end long, n long, sv double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_hll_registers(events: DataFrame, key_col: str = "user_id",
                            group_col: str = "event_type") -> DataFrame:
    """Streaming cardinality sketch: the HLL register file maintained AS
    the streaming aggregation state. Register update is max(rank) per
    (group, bucket) — associative, commutative, idempotent — so Spark's
    stateful groupBy max IS the sketch merge across micro-batches: state
    is bounded at groups x 256 small ints forever, and the register
    table after any prefix of batches is bit-identical to the batch
    sketch over the same rows (tests/test_streaming.py asserts equality
    with operators.hll over the whole directory). Run in update/complete
    mode; estimate with hll_estimate_from_registers on the sink side."""
    from geo_db_spark.operators.hll import _registers

    # the batch register derivation IS the streaming one: the max-agg is
    # what Spark keeps as state (re-implementing it here is how the two
    # could silently diverge — r4 review)
    return _registers(events, key_col, [group_col])


def hll_estimate_from_registers(regs: DataFrame, group_col: str = "event_type") -> DataFrame:
    """(group, n_regs, approx_distinct) from a sparse register table —
    the per-batch sink-side readout for streaming_hll_registers."""
    from geo_db_spark.operators.hll import estimate_from_registers

    return estimate_from_registers(regs, [group_col])


def streaming_histogram_cells(
    events: DataFrame,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 1000.0,
) -> DataFrame:
    """Streaming quantile sketch: the equi-width histogram maintained AS
    the streaming aggregation state (operators/histogram.py). Cell
    increment is a count per bin — associative and commutative — so the
    stateful groupBy count IS the shard merge across micro-batches:
    state is bounded at N_BINS cells forever, and the cell table after
    any prefix of batches is bit-identical to the batch histogram over
    the same rows. Read quantiles on the sink side with
    histogram_quantile — one-pass streaming p50/p95 in fixed memory,
    completing the streaming sketch trio (HLL distinct, CMS frequency,
    histogram quantiles)."""
    from geo_db_spark.operators.histogram import N_BINS, _bin_of

    return (
        events.select(_bin_of(F.col(value_col), lo, hi, N_BINS).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def run_streaming_hll(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Maintain the streaming HLL over an events directory; each batch
    overwrites ``out_dir`` with the current per-type estimates (the
    rollup-maintenance sink pattern of maintain_windowed_rollup)."""
    ev = read_events_stream(spark, events_dir, max_files_per_trigger=max_files_per_trigger)
    return _overwrite_sink(
        streaming_hll_registers(ev), out_dir, checkpoint_dir, available_now,
        per_batch=hll_estimate_from_registers,
    )


def stream_apply_changes(
    spark: SparkSession,
    batches_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    schema: str | None = None,
    available_now: bool = True,
    versioned: bool = False,
):
    """Streaming CDC apply: a file-source stream of change batches
    (parquet files of full rows, key-unique within a batch) is MERGE'd
    into the parquet table at ``target_dir`` one micro-batch at a time —
    operators/cdc.merge_upsert as a continuously-maintained sink.

    Each foreachBatch reads the current target, merges the batch (source
    wins on key match, inserts otherwise), and atomically replaces the
    target; the checkpoint makes the apply resumable and exactly-once at
    batch granularity (a replayed batch re-merges onto the same base —
    idempotent because merge is). Within one micro-batch spanning
    multiple files, later-arriving duplicates of a key are collapsed
    FIRST (keep the lexicographically-last full row — deterministic) so
    the merge sees a key-unique source.

    Copy-on-write rewrite of the whole target per batch is the right
    shape while the target is snapshot-sized; at lakehouse scale the
    same transformation drives a Delta/Iceberg MERGE sink where only
    key-intersecting files rewrite (see merge_upsert's docstring) —
    foreachBatch is exactly where that sink swap happens.

    ``versioned=True`` treats ``target_dir`` as a manifest-pointer
    versioned table (io.write_versioned): each batch commits a NEW
    immutable snapshot directory and atomically swaps the manifest, so
    a crash mid-write leaves the previous snapshot intact — plain
    overwrite mode deletes the target before the new files commit.
    Seed the table with ``io.write_versioned`` first.
    """
    from pyspark.sql import Window

    from geo_db_spark.operators.cdc import merge_upsert

    ks = keys or ["c_custkey"]
    reader = spark.readStream
    if schema:
        reader = reader.schema(schema)
    elif versioned:
        # a versioned table dir holds v<N>/ snapshots + the manifest — a
        # recursive plain read would fail (or union snapshots); infer
        # from the CURRENT snapshot
        from geo_db_spark.io import read_versioned

        reader = reader.schema(read_versioned(spark, target_dir).schema)
    else:
        reader = reader.schema(spark.read.parquet(target_dir).schema)
    batches = reader.parquet(batches_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        order = [F.col(c).desc_nulls_last() for c in batch_df.columns if c not in ks]
        w = Window.partitionBy(*ks).orderBy(*order) if order else None
        src = batch_df
        if w is not None:
            src = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        sess = batch_df.sparkSession
        if versioned:
            from geo_db_spark.io import (
                ConcurrentWriteError,
                read_versioned,
                write_versioned,
            )

            # old snapshot dir != new snapshot dir: no self-overwrite,
            # no checkpoint barrier needed, atomic manifest swap. A
            # concurrent committer (e.g. async compact_versioned) makes
            # write_versioned raise ConcurrentWriteError; the merge is a
            # pure function of (current snapshot, batch), so re-reading
            # and retrying on the newer snapshot is exactly correct —
            # bounded retries, then surface the error to the stream.
            for attempt in range(3):
                target = read_versioned(sess, target_dir)
                try:
                    write_versioned(merge_upsert(target, src, ks), target_dir,
                                    mode_note=f"batch {batch_id}")
                    break
                except ConcurrentWriteError:
                    if attempt == 2:
                        raise
        else:
            # write the merged batch to a SIBLING temp dir first, then
            # swap: the previous shape (localCheckpoint + in-place
            # overwrite) kept the only copy of the target in non-reliable
            # executor-local blocks while deleting the source it was
            # derived from — an executor loss after lineage truncation, or
            # a crash after the overwrite started deleting, lost the table
            # (ADVICE r5). Here the merge is fully durable on disk before
            # any byte of the old target is removed; a crash mid-swap
            # leaves a recoverable __tmp dir next to the (possibly stale)
            # target. The swap itself is still two renames, not one — for
            # a truly atomic pointer flip use versioned=True.
            import os as _os
            import shutil as _shutil

            target = sess.read.parquet(target_dir)
            tmp = target_dir.rstrip("/") + f".__tmp_batch_{batch_id}"
            merge_upsert(target, src, ks).write.mode("overwrite").parquet(tmp)
            # swap via rename-rename-rmtree: the old target is moved
            # ASIDE (not deleted) before the new one takes its place, so
            # the only crash window without a target_dir is between two
            # metadata renames — and both the old and new table remain
            # on disk for manual recovery either way (r5 review: the
            # rmtree-first form had a window where the only copies were
            # a tmp dir and nothing at the target path)
            old_dir = target_dir.rstrip("/") + f".__old_batch_{batch_id}"
            _os.rename(target_dir, old_dir)
            _os.rename(tmp, target_dir)
            _shutil.rmtree(old_dir)

    writer = batches.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_cms_cells(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Streaming frequency sketch: the count-min counter grid maintained
    AS the streaming aggregation state. Cell increment is a count per
    (row, bucket) — associative and commutative — so Spark's stateful
    groupBy count IS the sketch merge across micro-batches: state is
    bounded at d*w cells (operators/cms.py: 4x512 = 16 KiB) forever,
    and the cell table after any prefix of batches is bit-identical to
    the batch sketch over the same rows. Run in update/complete mode;
    read out with cms_estimate / heavy-hitter probes on the sink side."""
    from geo_db_spark.operators.cms import D, _row_hash

    k = F.col(key_col)
    cells = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), _row_hash(k, i).alias("b"))
                    for i in range(D)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(F.col("c.i").alias("i"), F.col("c.b").alias("b")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def run_streaming_cms(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Maintain the streaming CMS over an events directory; each batch
    overwrites ``out_dir`` with the current counter cells (the same
    rollup-maintenance sink pattern as run_streaming_hll)."""
    ev = read_events_stream(spark, events_dir, max_files_per_trigger=max_files_per_trigger)
    return _overwrite_sink(streaming_cms_cells(ev), out_dir, checkpoint_dir, available_now)


def streaming_moments(events: DataFrame, group_col: str = "event_type") -> DataFrame:
    """Streaming per-group moments for the 3-sigma outlier gate
    (workload/ops.g21_zscore_outliers' streaming twin): values quantize
    to ints (floor(value*1000)) and the state is exactly (n, s=Σv,
    s2=Σv²) per group — three int64 sums, associative and commutative,
    so Spark's stateful groupBy sum IS the merge across micro-batches
    and the moments after any prefix of batches are BIT-IDENTICAL to
    the batch aggregate over the same rows (tested). State is bounded
    at groups x 3 longs forever; run in update/complete mode."""
    v = F.floor(F.col("value") * 1000).cast("long")
    return (
        events.select(F.col(group_col), v.alias("v"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.sum(F.col("v") * F.col("v")).alias("s2"),
        )
    )


def run_streaming_moments(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Maintain the streaming moments over an events directory; each
    batch overwrites ``out_dir`` with the current per-type moments (the
    rollup-maintenance sink pattern). The sink rows feed the same
    overflow-safe double comparison the batch gate uses."""
    ev = read_events_stream(spark, events_dir, max_files_per_trigger=max_files_per_trigger)
    return _overwrite_sink(streaming_moments(ev), out_dir, checkpoint_dir, available_now)


def sessionize_builtin(
    events: DataFrame,
    gap_minutes: int = SESSION_GAP_MINUTES,
    watermark: str = "2 hours",
) -> DataFrame:
    """Sessionization via the BUILT-IN F.session_window — the JVM-state
    twin of sessionize_stateful (which demonstrates the custom
    applyInPandasWithState path). Same gap semantics, but state merging
    and eviction run inside Spark's session-window state store: append
    mode emits a session once the event-time watermark passes its end
    (last event + gap), so late rows inside the watermark still merge
    and the operator needs no processing-time timeouts. Prefer THIS form
    whenever the aggregate is expressible as count/sum/min/max — the
    Pandas operator exists for session logic built-ins can't say.

    Scale: state is per (user, open-session) and evicted at watermark;
    the shuffle key is user_id — the same exchange the stateful twin
    uses. Output schema matches w3_sessionize's batch result, so
    stream-vs-batch parity is a set comparison."""
    sw = F.session_window("ts", f"{gap_minutes} minutes")
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", sw)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user RUNNING totals via transformWithStateInPandas — Spark 4's
    arbitrary-stateful-processing API (the successor to
    applyInPandasWithState: typed state handles, timers, TTL — and a
    RocksDB-backed state store requirement). Completes the stateful
    trio: built-in session_window (sessionize_builtin), the legacy
    GroupState API (sessionize_stateful), and this.

    Each micro-batch emits every touched user's cumulative
    (n_events, sum_milli) — sums in integer milli-units so the running
    state is EXACT and the final emission per user equals the batch
    aggregate bit-for-bit (the stream-vs-batch parity test's contract).

    Scale: one shuffle on user_id per batch; state is two longs per
    user in RocksDB (spillable, not heap-bound — the point of the new
    API's store requirement).

    Runtime boundary: TWS's state server speaks protobuf; this container
    lacks the `google.protobuf` package, so EXECUTION is exercised only
    where protobuf exists (the parity test importorskips) while the
    plan-analysis guard runs everywhere — the same honest-dependency
    line as the JPEG/MP3 codecs.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    state_schema = StructType(
        [StructField("n", LongType()), StructField("sv", LongType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._totals.exists():
                n, sv = self._totals.get()
            else:
                n, sv = 0, 0
            for pdf in rows:
                n += len(pdf)
                # `value` arrives pre-quantized to int64 milli-units (the
                # select below) — exact, associative, the same
                # quantization the moments/z-score family uses
                sv += int(pdf["value"].sum())
            self._totals.update((n, sv))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_milli": [sv]}
            )

        def close(self) -> None:
            pass

    return events.select(
        "user_id", F.floor(F.col("value") * 1000).cast("long").alias("value")
    ).groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, sum_milli long",
        outputMode="Update",
        timeMode="None",
    )
