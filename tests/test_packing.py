"""Unit tests for the training-pipeline assembly operators
(operators/packing.py) beyond the oracle sweep: the distributed prefix
sum must equal the naive single-window form, incremental dedup must equal
the plain anti-join, and split assignment must be a pure function of id.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from geo_db_spark.operators.packing import (
    incremental_dedup,
    pack_sequences,
    quantile_threshold_filter,
    split_assign,
)


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok "), F.col("id").cast("string"), F.lit(" "), F.repeat(F.lit("w "), (F.pmod(F.col("id") * 37, 90)).cast("int")), F.lit("end")).alias("text"),
        (F.pmod(F.col("id"), 3)).cast("string").alias("source"),
        F.length(F.col("id").cast("string")).alias("n_chars"),
    )


def test_pack_matches_naive_window(spark):
    """Sharded two-phase prefix sum == the naive per-source window, for a
    shard width small enough that many shards exist per source."""
    docs = _docs(spark)
    packed = pack_sequences(docs, budget=64, shard_width=16)

    toks = docs.select(
        "source", F.col("doc_id").alias("id"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = (
        toks.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("seq_id", F.floor(F.col("cum_before") / F.lit(64)))
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("id").alias("first_doc"),
            F.max("id").alias("last_doc"),
        )
    )
    assert sorted(map(tuple, packed.collect())) == sorted(map(tuple, naive.collect()))


def test_pack_no_source_wide_window(spark):
    """The plan must not contain a window partitioned by source alone over
    the full document set — only bounded (source, shard) windows and the
    tiny shard-offset window."""
    docs = _docs(spark)
    plan = pack_sequences(docs, budget=64, shard_width=16)._jdf.queryExecution().executedPlan().toString()
    # every Window node that orders by id must also partition by shard
    for line in plan.splitlines():
        if "Window" in line and "id#" in line and "windowspecdefinition" in line:
            assert "shard" in line, f"unbounded per-source window in plan: {line}"


def test_incremental_dedup_equals_anti_join(spark):
    docs = _docs(spark).withColumn(
        # force cross-batch duplicates: ids 0-9 share text with ids 100-109
        "text", F.when(F.col("doc_id") < 10, F.concat(F.lit("dup "), (F.col("doc_id") + 100).cast("string"))).otherwise(
            F.when((F.col("doc_id") >= 100) & (F.col("doc_id") < 110), F.concat(F.lit("dup "), F.col("doc_id").cast("string"))).otherwise(F.col("text"))
        ),
    )
    new = docs.filter(F.col("doc_id") < 50)
    ref = docs.filter(F.col("doc_id") >= 50)
    got = sorted(r.doc_id for r in incremental_dedup(new, ref).select("doc_id").collect())
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    expect = sorted(
        r.doc_id
        for r in new.withColumn("__t", norm)
        .join(ref.select(norm.alias("__t")).distinct(), "__t", "left_anti")
        .select("doc_id")
        .collect()
    )
    assert got == expect
    assert 0 not in got and 9 not in got  # the planted duplicates died
    assert 10 in got


def test_quantile_filter_keeps_top_three_quarters(spark):
    docs = _docs(spark, n=100)
    score = F.col("doc_id").cast("double")  # score == id: p25 of 0..99 = 24.75
    kept = quantile_threshold_filter(docs, score, q=0.25)
    # full input row survives (ADVICE r5: used to project to id+score)
    assert set(kept.columns) == set(docs.columns) | {"score"}
    rows = kept.collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == list(range(25, 100))
    by_id = {r.doc_id: r for r in rows}
    src = {r.doc_id: r for r in docs.collect()}
    assert by_id[30].text == src[30].text  # payload columns intact
    assert by_id[30].score == 30.0


def test_split_assign_stable_and_banded(spark):
    docs = _docs(spark, n=1000)
    a = {r.doc_id: r.split for r in docs.select("doc_id", split_assign().alias("split")).collect()}
    b = {
        r.doc_id: r.split
        for r in docs.repartition(7).select("doc_id", split_assign().alias("split")).collect()
    }
    assert a == b  # pure function of id: partitioning cannot change it
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 900  # ~96%
    assert c["val"] + c["test"] < 100


def test_pack_split_exact_budget_and_token_conservation(spark):
    """Splitting layout: every sequence carries exactly `budget` tokens
    except each source's final one; total tokens conserved; boundary
    documents appear in BOTH adjacent sequences."""
    from geo_db_spark.operators.packing import pack_sequences_split

    docs = _docs(spark)
    budget = 64
    out = pack_sequences_split(docs, budget=budget, shard_width=16).collect()
    per_source = {}
    for r in out:
        per_source.setdefault(r.source, []).append(r)
    toks = {
        (r.source, r.id): r.n
        for r in docs.select(
            "source", F.col("doc_id").alias("id"),
            F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n"),
        ).collect()
    }
    for source, rows in per_source.items():
        rows.sort(key=lambda r: r.seq_id)
        assert [r.seq_id for r in rows] == list(range(len(rows)))  # contiguous
        assert all(r.seq_tokens == budget for r in rows[:-1])  # exact fill
        assert 0 < rows[-1].seq_tokens <= budget
        total = sum(n for (s, _), n in toks.items() if s == source)
        assert sum(r.seq_tokens for r in rows) == total  # conservation
    # a document larger than the budget must span > 2 sequences somewhere
    # in this fixture (repeat up to 90 'w' tokens with budget 64)
    assert any(
        rows[i].last_doc == rows[i + 1].first_doc
        for rows in per_source.values()
        for i in range(len(rows) - 1)
    )


def test_quantile_filter_rejects_preexisting_score_column(spark):
    """r5 review: an input 'score' column would collide with the appended
    one and make every downstream reference ambiguous."""
    import pytest

    docs = _docs(spark, n=10).withColumn("score", F.lit(1.0))
    with pytest.raises(ValueError, match="rename it"):
        quantile_threshold_filter(docs, F.col("doc_id").cast("double"))


def test_pack_split_no_source_wide_window(spark):
    """pack_sequences_split must inherit the bounded-window plan shape:
    no window partitioned by source alone over the full document set."""
    from geo_db_spark.operators.packing import pack_sequences_split

    docs = _docs(spark)
    plan = (
        pack_sequences_split(docs, budget=64, shard_width=16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Window" in line and "id#" in line and "windowspecdefinition" in line:
            assert "shard" in line, f"unbounded per-source window in plan: {line}"


def test_quantile_filter_approx_exact_rank_at_high_accuracy(spark):
    """accuracy > n: the GK sketch is exact-rank — the approx gate's
    survivor set equals the discrete-quantile gate's. With score == id
    over 0..99, quantile_disc(0.25) = the rank-25 element = 24, so ids
    24..99 survive (one MORE than the interpolating exact gate keeps —
    the documented disc-vs-cont difference, not an error)."""
    from geo_db_spark.operators.packing import quantile_threshold_filter_approx

    docs = _docs(spark, n=100)
    score = F.col("doc_id").cast("double")
    kept = quantile_threshold_filter_approx(docs, score, q=0.25, accuracy=1_000_000)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == list(range(24, 100))
    assert set(kept.columns) == set(docs.columns) | {"score"}


def test_quantile_filter_approx_bracketed_at_low_accuracy(spark):
    """The PRODUCTION regime (accuracy << n): the sketch's relative rank
    error is 1/accuracy, so the approx survivor set must sit between the
    exact survivor sets at the loosened quantiles q ± 1/accuracy — the
    tolerance envelope of r5 verdict #2."""
    from geo_db_spark.operators.packing import quantile_threshold_filter_approx

    n, accuracy, q = 2000, 50, 0.25  # rank error <= n/accuracy = 40 rows
    docs = _docs(spark, n=n)
    score = F.col("doc_id").cast("double")
    approx_ids = {
        r.doc_id
        for r in quantile_threshold_filter_approx(
            docs, score, q=q, accuracy=accuracy
        ).collect()
    }
    eps = 1.0 / accuracy
    lo_ids = {  # exact survivors at the LOOSER quantile: superset
        r.doc_id
        for r in quantile_threshold_filter(docs, score, q=q - eps).collect()
    }
    hi_ids = {  # exact survivors at the TIGHTER quantile: subset
        r.doc_id
        for r in quantile_threshold_filter(docs, score, q=q + eps).collect()
    }
    assert hi_ids <= approx_ids <= lo_ids
    assert len(hi_ids) < len(lo_ids)  # the envelope is non-degenerate


def test_assign_stable_ids_equals_global_window_and_avoids_single_partition(spark):
    """The two-phase id assignment must equal row_number() OVER (ORDER BY
    ...) exactly, and its physical plan must contain no SinglePartition
    window — the thing the operator exists to avoid."""
    from pyspark.sql import Window

    from geo_db_spark.operators.ids import assign_stable_ids

    docs = _docs(spark, n=500)
    got = assign_stable_ids(docs, ["source", "doc_id"], n_partitions=7)
    naive = docs.withColumn(
        "stable_id",
        F.row_number().over(Window.orderBy("source", "doc_id")).cast("long"),
    )
    key = lambda rows: sorted((r.doc_id, r.stable_id) for r in rows)
    assert key(got.collect()) == key(naive.collect())
    # ids are a permutation-free 1..n numbering
    ids = sorted(r.stable_id for r in got.collect())
    assert ids == list(range(1, 501))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in naive_plan  # the contrast the test pins


def test_assign_stable_ids_rejects_dropping_a_payload_column(spark):
    """drop_cols may only name sort keys: dropping a payload column would
    silently lose data the caller never asked to order by."""
    import pytest

    from geo_db_spark.operators.ids import assign_stable_ids

    docs = _docs(spark, n=10)
    with pytest.raises(ValueError, match="not order columns"):
        assign_stable_ids(docs, ["source", "doc_id"], drop_cols=("text",))
    # a sort key may still be dropped
    got = assign_stable_ids(docs, ["source", "doc_id"], drop_cols=("source",))
    assert "source" not in got.columns and got.count() == 10


def test_assign_stable_ids_permutation_at_scale(spark):
    """Regression for the r6 judge-found cross-job nondeterminism: with
    the range exchange NOT materialized, the counts job and the output
    job each re-sample range boundaries (the sampler seed involves the
    per-job RDD id), and ~3% of ids duplicate at 300k rows x 32
    partitions. The fix (localCheckpoint before the counts collect) must
    make every evaluation of the SAME returned DataFrame a valid 1..n
    permutation — asserted across >=3 evaluations at >=100k rows x >=16
    partitions, where the reservoir sample no longer holds whole
    partitions."""
    from geo_db_spark.operators.ids import assign_stable_ids

    n = 120_000
    df = spark.range(n).select(
        # non-monotone key so the range sampler actually has to sample
        F.concat(
            F.md5(F.col("id").cast("string")), F.lit("-"), F.col("id").cast("string")
        ).alias("k"),
        F.col("id").alias("orig"),
    ).repartition(32)
    out = assign_stable_ids(df, ["k"], n_partitions=16)
    want = list(range(1, n + 1))
    for _ in range(3):  # each .collect() is a fresh job over the plan
        ids = sorted(r.stable_id for r in out.select("stable_id").collect())
        assert ids == want
