"""Distributed stable-ID assignment: global row numbers without a
single-partition sort.

The naive ``row_number() OVER (ORDER BY key)`` plans a WINDOW over
SinglePartition — every row through ONE task, the textbook 100 TB
scale-killer (and the reason zipWithIndex-style RDD escapes get reached
for). This operator produces the identical numbering with the two-phase
shape every large engine uses:

1. range-repartition + sort within partitions on the order key — the
   same scalable exchange ``save_range_clustered`` uses (sampled
   boundaries, balanced partitions even under skew);
2. count rows per partition (a map-side-combined aggregate, one row out
   per partition), cumulative-sum the counts DRIVER-SIDE (bounded scalar
   work) into per-partition offsets;
3. global id = partition offset + the within-partition ordinal.

The ordinal comes from ``monotonically_increasing_id``'s documented
layout (record number in the low 33 bits, assigned in partition row
order — i.e. the sort order step 1 just established), so NO window and
no further exchange is needed: after the range exchange the only moving
data is one (pid, count) row per partition plus the broadcast offsets.
A ``Window.partitionBy(pid)`` here would re-shuffle the whole table on
hash(pid) — Spark cannot see that pid already IS the partitioning.

CRITICAL: the range exchange is ``localCheckpoint``-ed before the counts
collect. Range boundaries are SAMPLED per job (the sampler's seed
involves the RDD id, which changes across jobs), so two jobs over one
un-materialized exchange can see two different partitionings — the
offsets would then be wrong for the rows the output job actually emits.
Any future operator that runs >1 job over one sampled exchange must
materialize the exchange the same way (see also grid_knn_join_exact and
connected-components' per-round checkpoints).

Because range partitions are ordered and the within-partition sort is
total, the result equals the single-window numbering exactly — the
DuckDB oracle is literally ``row_number() OVER (ORDER BY ...)``. The
order key must be UNIQUE (ties would make both forms nondeterministic);
callers pass the table's key columns.

No reference counterpart (SURVEY §2-H engine growth); the two-phase
prefix-sum construction is textbook (same shape as operators/packing.py
and Spark's own zipWithIndex).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOW33 = (1 << 33) - 1


def assign_stable_ids(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "stable_id",
    n_partitions: int | None = None,
    drop_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All input columns plus ``id_name`` = the 1-based rank of the row
    under ``order_cols`` — computed without any single-partition stage
    and without re-shuffling the data after the range exchange."""
    return assign_stable_ids_counted(
        df, order_cols, id_name, n_partitions, drop_cols=drop_cols
    )[0]


def assign_stable_ids_counted(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "stable_id",
    n_partitions: int | None = None,
    materialize_input: bool = False,
    drop_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, int]:
    """``assign_stable_ids`` that ALSO returns the exact input row count
    — the per-partition counts the offset pass collects already sum to
    it, so callers that need the total (e.g. the suffix build's dense
    ranks, where #distinct keys == max rank drives the early exit) get
    it without a separate aggregation job (r13 optimization).

    ``materialize_input`` localCheckpoints ``df`` first (LAZILY — the
    range exchange's boundary-sampling pass reads every input partition
    and is the first job to touch the frame, so it doubles as the
    materializer): the sampler executes the input subtree in full
    before the exchange executes it again, so an expensive
    un-materialized input is otherwise computed twice (r13, measured on
    the suffix build's per-round distinct).

    ``n_partitions`` defaults to ``spark.sql.shuffle.partitions`` so the
    range exchange scales with the session's configured parallelism
    instead of a local-mode constant.

    ``drop_cols`` (r14): order columns the CALLER does not need back,
    projected away right after the within-partition sort — i.e. BEFORE
    the checkpoint persists the rows. The suffix direct build sorts by
    a ~slice_len-char key it immediately discards; without the drop the
    checkpoint caches (and the counts job re-reads) that payload for
    every row. Only sensible for columns no downstream join needs
    (``_dense_rank_by`` joins back ON its order cols — it must not drop
    them)."""
    if not order_cols:
        raise ValueError("order_cols must name at least one column")
    if not set(drop_cols) <= set(order_cols):
        raise ValueError(
            f"drop_cols {sorted(set(drop_cols) - set(order_cols))} are not "
            "order columns: only sort keys may be dropped"
        )
    if materialize_input:
        # lazy: the range exchange's boundary-sampling pass reads every
        # input partition and is the first job to touch this frame, so
        # it doubles as the materializer (one job, not two)
        df = df.localCheckpoint(eager=False)
    if n_partitions is None:
        n_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n_partitions, *order_cols).sortWithinPartitions(
        *order_cols
    )
    marked = ranged.withColumns(
        {
            "__pid": F.spark_partition_id(),
            # low 33 bits of monotonically_increasing_id = 0-based row
            # ordinal within the partition, in the sorted physical order
            "__ord": F.monotonically_increasing_id().bitwiseAND(F.lit(_LOW33)),
        }
    )
    if drop_cols:
        # project the dead sort keys away ABOVE the Sort (which still
        # sees them) but BELOW the checkpoint, so the persisted rows are
        # skinny (see docstring)
        marked = marked.drop(*drop_cols)
    # MATERIALIZE the range exchange before anything reads it twice.
    # RangePartitioner samples boundaries with a seed derived from the
    # RDD id, which differs per JOB — so without this checkpoint the
    # counts job below and the final output job would each re-run the
    # exchange with DIFFERENT sampled boundaries, and the driver-side
    # offsets would describe a partitioning the output rows don't have
    # (observed: ~3% duplicate ids at 300k rows x 32 partitions; only
    # green at small scale because the reservoir sample holds entire
    # partitions). The checkpoint is LAZY and the counts collect below
    # is the job that materializes it (operators/rounds.py's rule): the
    # counts aggregate evaluates every partition, so exactly ONE job
    # executes the sampled exchange. Lineage is truncated at the mark,
    # so a lost block is an error, never a silent re-sample.
    marked = marked.localCheckpoint(eager=False)
    # one output row per partition; offsets are cumulative in partition
    # order and partitions are key-ordered, so ids are a 1..n permutation
    # for ANY boundary placement — but only over the ONE materialized
    # placement above.
    counts = sorted(
        (r["__pid"], r["cnt"])
        for r in marked.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    # offsets attach via a broadcast join, NOT a branch-per-partition
    # when-chain — at 100 TB the partition count is in the tens of
    # thousands and a giant expression tree is a janino method-size
    # cliff (the exact failure grid_knn_join_exact hit, SCALE.md r6)
    off_df = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "__pid int, __off long"
    )
    out = (
        marked.join(F.broadcast(off_df), "__pid")
        .withColumn(id_name, (F.col("__off") + F.col("__ord") + F.lit(1)).cast("long"))
        .drop("__pid", "__ord", "__off")
    )
    return out, acc
