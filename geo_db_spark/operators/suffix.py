"""Distributed suffix-array construction by prefix doubling
(Manber & Myers, SIAM J. Comput. 1993; the distributed formulation
follows Flick & Aluru, SC'15) — the index behind EXACT substring
deduplication (Lee et al., ACL'22 "Deduplicating Training Data Makes
Language Models Better", which dedups exact substrings >= 50 tokens via
a corpus suffix array; the repo's winnowing operator is the sampled
approximation of the same signal).

Spark-first shape: a suffix is a (doc_id, pos) row, never a
materialized string. Round 0 ranks suffixes by their first ``k0``
characters; each doubling round re-keys suffix (d, p) by the pair
(rank[d, p], rank[d, p + L]) — missing second half (suffix shorter
than 2L) keys as 0, which sorts first, matching "abc" < "abcx" — and
re-ranks densely. After ceil(log4(slice_len / k0)) quadrupling rounds the rank
order equals full lexicographic suffix order; ties (identical
remaining text) are broken (doc_id, pos) for a deterministic total
order. The shifted-rank lookup is SCATTER/GATHER (r11): each suffix
row explodes its rank to the <= 4 positions that read it and one
groupBy gathers — one exchange per round where the join form paid
four (A/B'd at 10x: first build 457.9 -> 126.7 s; SCALE.md r11
optimization section). Dense ranking is assign_stable_ids
(operators/ids.py): a range exchange + per-partition offsets, NO
single-partition window — every round is a constant number of linear
shuffles, so the whole build is O(log slice_len) linear passes. That
is the 100 TB contract: corpus chars in, log-many skinny
(doc, pos, rank) shuffles, no stage that holds a whole suffix string
set.

No reference counterpart (SURVEY §2-H engine growth: the LLM-pipeline
dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from geo_db_spark.operators.ids import assign_stable_ids, assign_stable_ids_counted
from geo_db_spark.operators.rounds import checkpoint_round


def _dense_rank_by(suf: DataFrame, order_cols: list[str]) -> tuple[DataFrame, int]:
    """Replace ``order_cols`` with a dense 1-based ``rank`` consistent
    with their lexicographic order: rank the DISTINCT key tuples with
    assign_stable_ids, then join back — two linear shuffles. The
    join-back carries a MERGE hint: at 100x AQE broadcast the ranked
    keys table off its COMPRESSED shuffle size (< the 64m threshold —
    sorted near-dense keys compress brutally) and the in-memory
    relation exploded to 14.7 GiB, killing the job at the 8 GiB
    broadcast cap; a sort-merge join of two already-clustered skinny
    frames is the scale-safe shape and costs ms at test SF.

    Returns ``(df, n_distinct_keys)`` — the key count falls out of the
    stable-ids offset collect for free, and #distinct == #suffixes is
    the rank loop's early-exit test. The distinct is materialized
    before the range exchange (``materialize_input``): the boundary
    sampler otherwise executes the whole distinct subtree a second
    time."""
    keys = suf.select(*order_cols).distinct()
    ranked, n_keys = assign_stable_ids_counted(
        keys, order_cols=order_cols, id_name="rank", materialize_input=True
    )
    return suf.join(ranked.hint("merge"), order_cols).drop(*order_cols), n_keys


def suffix_ranks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    slice_len: int = 256,
    k0: int = 16,
    min_tail: int = 1,
    direct_max: int = 1024,
) -> DataFrame:
    """(doc_id, pos, sa_rank) for every suffix position of each
    document's leading ``slice_len``-char slice with at least
    ``min_tail`` characters remaining; ``sa_rank`` is the dense
    1-based position in the suffix array (lexicographic by remaining
    slice text, ties broken by (doc_id, pos)).

    ``slice_len`` bounds per-document work (the decode-family cap
    convention — declared query semantics, mirrored by oracles); the
    re-rank loop runs ceil(log4(slice_len/k0)) rounds (quadrupling —
    see the round comment) regardless of corpus size.

    ``min_tail`` filters the OUTPUT only — the doubling must rank over
    EVERY position, because two kept suffixes that agree through their
    leading characters are ordered by tails SHORTER than min_tail, and
    dropping those positions from the rank domain silently turns that
    comparison into a (doc_id, pos) tiebreak (caught by the sf0.01
    value oracle: 6 of 4405 SA-adjacent pairs differed; the pytest
    brute force had mirrored the filter and missed it).

    r13 DIRECT path (guide §1.2 "how many shuffles are fundamentally
    required"): when ``slice_len <= direct_max``, each suffix's key —
    its ENTIRE remaining slice text — is at most ``slice_len`` chars,
    so the whole array is ONE assign_stable_ids pass ordered by
    (k, doc_id, pos): no distinct, no rank join-back, no re-rank
    rounds, no second stable-ids pass. Shuffle-byte math: the direct
    pass moves ~slice_len/2 bytes per suffix ONCE; the doubling path
    moves the k0-char key through three exchanges (distinct, range,
    merge-join sort) plus ~3 skinny passes per quadrupling round —
    at slice_len 256/k0=64 that is ~190B + rounds vs ~128B once, so
    the direct form wins on bytes AND rounds; prefix doubling remains
    the right shape once slices are long enough that whole-suffix keys
    dominate (kept for slice_len > direct_max; crossover ~1 KiB with
    the default k0). Measured at sf0.1: build 13.0 -> 4.8 s warm,
    output bit-identical (full-outer join check, plus the brute-force
    pytest fixtures run BOTH paths). The direct key is self-contained,
    so (unlike the doubling domain) filtering min_tail positions
    BEFORE ranking cannot change any comparison between kept suffixes
    — the r10 hazard above is specific to iteratively-built ranks."""
    if k0 < 1 or slice_len < k0:
        raise ValueError(f"need 1 <= k0 <= slice_len, got {k0}/{slice_len}")
    sliced = docs.select(
        F.col(id_col).alias("doc_id"),
        F.substring(F.col(text_col), 1, slice_len).alias("t"),
    )
    # guard BEFORE sequence(): Spark's sequence(1, stop) with stop < 1
    # generates a DESCENDING sequence, not an empty one
    sliced = sliced.filter(F.length("t") >= 1)
    if slice_len <= direct_max:
        kept = sliced.filter(F.length("t") >= max(1, min_tail))
        suf = kept.select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("t") - F.lit(max(1, min_tail) - 1))
            ).alias("pos"),
            "t",
        ).select(
            "doc_id", "pos", F.expr(f"substring(t, pos, {slice_len})").alias("k")
        )
        # r14: drop the ~slice_len-char sort key right after the range
        # sort, so the checkpoint persists skinny (doc, pos, ord) rows
        # instead of carrying the key payload through the cache (~6x
        # fewer cached bytes; wash-to-better at 1x, and cache pressure
        # is exactly what thrashed the 10x build in SCALE.md r11).
        # materialize_input was ALSO tried here (the range sampler
        # re-runs the explode+substring subtree before the map stage
        # runs it again — ~15 s at 10x) and measured NET-NEGATIVE at
        # 10x: caching the 9M-row slice-wide key column (~1.2 GB) in
        # the probe's heap displaces shuffle/sort memory and loses more
        # than the saved pass (guide §5 — cache only when recompute
        # beats the memory pressure it creates).
        return assign_stable_ids(
            suf, order_cols=["k", "doc_id", "pos"], id_name="sa_rank",
            drop_cols=("k",),
        ).select("doc_id", "pos", "sa_rank")
    suf = sliced.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("t"))).alias("pos"),
        "t",
    ).select("doc_id", "pos", F.expr(f"substring(t, pos, {k0})").alias("k"))
    suf, n_keys = _dense_rank_by(suf, ["k"])
    # the suffix count is the job that materializes the base ranking
    suf, row = checkpoint_round(suf, lambda d: d.agg(F.count(F.lit(1))))
    n_suffixes = row[0]
    c = k0  # characters covered by the current rank
    while c < slice_len:
        # early exit: dense ranks mean #distinct keys == #suffixes once
        # every suffix has its own rank, and further rounds are identity
        # — on low-duplication text k0 chars already separate almost
        # everything. The key count rides out of _dense_rank_by's
        # offset collect, so the check costs no job.
        if n_keys == n_suffixes:
            break
        # QUADrupling, not doubling: the per-round cost here is Spark
        # job latency (a distributed sort per re-rank), not data volume
        # — so combine the ranks at pos, pos+c, pos+2c, pos+3c in ONE
        # round (coverage 4c, log4 rounds: slice 256 at k0=16 takes 2
        # rounds where doubling took 4). Rather than three shifted
        # self-joins, every suffix row SCATTERS its rank to the four
        # positions that will read it
        # (j = 0..3, target pos - j*c) and ONE groupBy((doc, pos))
        # gathers them — 4x skinny rows through a single exchange with
        # map-side partial aggregation (contributions to a position
        # come from the same doc's nearby rows, so they combine before
        # the shuffle). Every targeted position >= 1 is itself a real
        # suffix position, so each group carries its own j=0 row and
        # r0 is never null; a missing shifted rank keys as 0 (sorts
        # first — "abc" < "abcx").
        contrib = suf.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            (F.col("pos") - F.lit(j * c)).alias("p"),
                            F.lit(j).alias("j"),
                            F.col("rank").alias("r"),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("e"),
        ).select(
            "doc_id", F.col("e.p").alias("pos"), F.col("e.j").alias("j"),
            F.col("e.r").alias("r"),
        ).filter(F.col("pos") >= 1)
        keyed = contrib.groupBy("doc_id", "pos").agg(
            F.max(F.when(F.col("j") == 0, F.col("r"))).alias("r0"),
            *[
                F.coalesce(
                    F.max(F.when(F.col("j") == jj, F.col("r"))), F.lit(0)
                ).alias(f"r{jj}")
                for jj in (1, 2, 3)
            ],
        )
        suf, n_keys = _dense_rank_by(keyed, ["r0", "r1", "r2", "r3"])
        suf = suf.localCheckpoint(eager=True)
        c *= 4
    if min_tail > 1:
        lens = sliced.select(
            F.col("doc_id").alias("__ld"), F.length("t").alias("__n")
        )
        suf = (
            suf.join(lens, F.col("doc_id") == F.col("__ld"))
            .filter(F.col("pos") <= F.col("__n") - F.lit(min_tail - 1))
            .select("doc_id", "pos", "rank")
        )
    out = assign_stable_ids(
        suf, order_cols=["rank", "doc_id", "pos"], id_name="sa_rank"
    ).select("doc_id", "pos", "sa_rank")
    # checkpoint hygiene: assign_stable_ids materialized its own eager
    # checkpoint, so `out` no longer reads the per-round blocks — but
    # localCheckpoint storage is only reclaimed when the DRIVER GC
    # collects the RDD handles (ContextCleaner). Without the nudge,
    # back-to-back builds in one long-lived session accumulate every
    # round's blocks until eviction thrash (measured: an identical
    # second 10x build ran 132 -> 673 s). Drop our references and ask
    # both collectors politely; harmless when there is nothing to free.
    del suf
    import gc

    gc.collect()
    try:
        sc = docs.sparkSession.sparkContext
        sc._jvm.System.gc()  # type: ignore[union-attr]
    except Exception:
        pass
    return out


def sa_adjacent_pairs(
    docs: DataFrame,
    ranks: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "t",
) -> DataFrame:
    """Every SA-adjacent suffix pair sharing at least its first
    ``min_len`` characters: (doc_a, pos_a, doc_b, pos_b, gram).

    ``ranks`` is a PREBUILT ``suffix_ranks(...)`` output (built with
    ``min_tail >= min_len`` over the same ``docs`` slices) — factored
    out (r10 verdict) so a composed pipeline pays the SA build ONCE and
    derives both the duplicate pairs and the per-doc repeat lengths
    from the same frame. Suffix-array adjacency keeps this exact AND
    linear in output: any two suffixes' common prefix is <= every
    adjacent LCP between them, so each duplicated region surfaces as a
    chain of adjacent pairs, never a quadratic all-pairs set. The
    ``min_len``-gram text rides along for the oracle's collision-proof
    equality check; ``rank_lo`` (the a-side suffix's sa_rank, so the
    pair covers SA positions rank_lo and rank_lo+1) rides along for the
    run segmentation ``sa_runs`` performs — adjacency pairs with
    consecutive rank_lo form one maximal run of suffixes whose every
    adjacent LCP is >= min_len.

    r13 shape (measured at sf0.1: the old gram-table merge join + rank
    self-join was ~9 s of the family's wall): the gram attaches by
    joining ranks to the DOC frame on doc_id — ONE slice of text per
    doc crosses the join instead of a min_len-char gram per POSITION
    through a sorted (doc, pos) exchange (per-doc join bytes shrink
    ~min_len-fold), and AQE broadcasts the doc side when it fits.
    Adjacency then comes from a SCATTER/GATHER on sa_rank (the
    suffix_ranks round trick applied to the pair join: each suffix row
    contributes itself as the a-side of pair sa_rank and the b-side of
    pair sa_rank - 1; one groupBy gathers) — ONE exchange with map-side
    partial aggregation replacing the self-join's two sorted exchanges
    + eager checkpoint, and since ranks leave assign_stable_ids
    range-clustered by rank, both contributions to a pair usually sit
    in the same map partition and combine before the shuffle. No
    intermediate checkpoint: the frame is consumed exactly once."""
    texts = docs.select(
        F.col(id_col).alias("__td"), F.col(text_col).alias("__tt")
    )
    withg = (
        ranks.join(texts, F.col("doc_id") == F.col("__td"))
        .select(
            "doc_id", "pos", "sa_rank",
            F.expr(f"substring(__tt, pos, {min_len})").alias("gram"),
        )
        # positions with < min_len chars remaining yield a CLAMPED gram;
        # the old gram-table inner join excluded them (its explode bound)
        # — keep that contract for ranks built with min_tail < min_len
        .filter(F.length("gram") >= min_len)
    )
    contrib = withg.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("sa_rank").alias("k"), F.lit(0).alias("side"),
                    F.col("doc_id").alias("d"), F.col("pos").alias("p"),
                    F.col("gram").alias("g"),
                ),
                F.struct(
                    (F.col("sa_rank") - 1).alias("k"), F.lit(1).alias("side"),
                    F.col("doc_id").alias("d"), F.col("pos").alias("p"),
                    F.col("gram").alias("g"),
                ),
            )
        ).alias("e")
    ).select("e.k", "e.side", "e.d", "e.p", "e.g")
    gathered = contrib.groupBy("k").agg(
        F.max(F.when(F.col("side") == 0, F.struct("d", "p", "g"))).alias("a"),
        F.max(F.when(F.col("side") == 1, F.struct("d", "p", "g"))).alias("b"),
    )
    return (
        gathered.filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a.g") == F.col("b.g"))
        )
        .select(
            F.col("k").cast("long").alias("rank_lo"),
            F.col("a.d").cast("long").alias("doc_a"),
            F.col("a.p").cast("long").alias("pos_a"),
            F.col("b.d").cast("long").alias("doc_b"),
            F.col("b.p").cast("long").alias("pos_b"),
            F.col("a.g").alias("gram"),
        )
    )


def sa_runs(pairs: DataFrame) -> DataFrame:
    """Attach a ``run_id`` to every ``sa_adjacent_pairs`` row: pairs
    with CONSECUTIVE ``rank_lo`` belong to one maximal run of suffixes
    whose every adjacent LCP is >= min_len — i.e. every occurrence set
    of any duplicated >= min_len-char substring lies inside exactly one
    run (any suffix SA-between two occurrences shares their >= |s| LCP,
    hence is itself an occurrence). The run-level rules below need this
    segmentation because the r11 per-pair greedy marked only the
    (doc,pos)-GREATER side of each pair, which keeps every LOCAL
    minimum of a non-monotone run alive (r11 verdict counterexample:
    docs (1,"abcA"),(9,"abcM"),(5,"abcZ") left "abc" in docs 1 AND 5).

    Scale shape: run_id = rank_lo - seq, where seq is the pair's dense
    1-based ordinal under rank_lo (assign_stable_ids — range exchange +
    offsets, NO single-partition window). rank_lo is strictly
    increasing and unique, so rank_lo - seq is constant exactly along a
    chain of consecutive ranks and strictly increases across every gap:
    a collision-free run key from one linear pass.

    r13: the pairs frame is materialized before the range exchange
    (``materialize_input``) — the boundary sampler otherwise re-executes
    the caller's whole pair/LCP lineage a second time."""
    seq, _ = assign_stable_ids_counted(
        pairs, order_cols=["rank_lo"], id_name="__seq", materialize_input=True
    )
    return seq.withColumn(
        "run_id", (F.col("rank_lo") - F.col("__seq")).cast("long")
    ).drop("__seq")


def substring_dup_losers(pairs: DataFrame) -> DataFrame:
    """Doc-level exact-substring dedup rule (the Lee et al. ACL'22
    signal applied keep-earliest): from a ``sa_adjacent_pairs`` frame,
    segment the SA into maximal runs (``sa_runs``) and return every
    doc_id that appears in some run with a smaller-id member — i.e.
    per run only the MINIMUM doc_id survives (r12: the r11 per-pair
    greedy only dropped adjacent-pair losers, so a run with doc order
    [3,5,1] kept docs 3 AND 1 sharing the substring). Guarantee (the
    independent test asserts it, not a replay): NO TWO SURVIVING DOCS
    share any >= min_len-char substring within the slice domain — two
    survivors sharing s would both be members of s's unique run, where
    all but the min doc are returned. Greedy in one direction only: a
    run's keeper may itself lose a DIFFERENT run, so shared content
    can lose all its holders (the exact-dedup chain caveat); doc-level
    drop rather than span excision composes with the corpus pipeline's
    other survivor rules. Returns a 1-column (doc_id) frame for
    left_anti."""
    from pyspark.sql import Window

    members = (
        sa_runs(pairs)
        .select(
            "run_id",
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id"),
        )
        .distinct()
    )
    w = Window.partitionBy("run_id")
    return (
        members.withColumn("__mn", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("__mn"))
        .select("doc_id")
        .distinct()
    )


def sa_pair_lcp(
    docs: DataFrame,
    pairs: DataFrame,
    min_len: int,
    slice_len: int,
    id_col: str = "doc_id",
    text_col: str = "t",
) -> DataFrame:
    """Per-pair LCP for a PREBUILT ``sa_adjacent_pairs`` frame:
    (doc_a, pos_a, doc_b, pos_b, lcp). Prefix equality is monotone in
    k, so the LCP is found by a per-row BINARY SEARCH over
    [min_len, min(remaining_a, remaining_b)] — ceil(log2(slice_len))
    unrolled when/substring rounds, each a named projection so the
    expression tree stays linear: the round count ADAPTS to the
    slice_len argument (8 rounds at the default 256, 10 at 1024 —
    pinned by test_sa_pair_lcp_non_default_slice_len), and each round
    adds O(1) named columns referencing the previous round's names,
    so plan size grows O(log slice_len), never exponentially (no
    inlined expression trees). r11 rework of the r10 k-explode:
    at 10x the explode was 1.28M pairs x 225 k-values = 289M rows
    through a 4-key groupBy (the family's measured bottleneck,
    ~250 s of the 377 s wall); the search does <= 8 prefix compares
    per pair with NO row expansion and NO aggregation shuffle.
    min_len is a known-equal lower bound (pairs share the min_len
    gram), and within the remaining-length cap substring() never
    clamps, so exact equality at mid is the true prefix test."""
    import math

    ta = docs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("t_a")
    )
    tb = docs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("t_b")
    )
    df = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("lo", F.lit(min_len).cast("long"))
        .withColumn(
            "hi",
            F.least(
                F.length("t_a") - F.col("pos_a") + 1,
                F.length("t_b") - F.col("pos_b") + 1,
                F.lit(slice_len),
            ).cast("long"),
        )
    )
    for _ in range(int(math.ceil(math.log2(slice_len))) ):
        df = df.withColumn(
            "mid", ((F.col("lo") + F.col("hi") + 1) / 2).cast("long")
        )
        eq = F.expr(
            "substring(t_a, cast(pos_a as int), cast(mid as int))"
        ) == F.expr("substring(t_b, cast(pos_b as int), cast(mid as int))")
        open_ = F.col("lo") < F.col("hi")
        df = (
            df.withColumn(
                "lo2", F.when(open_ & eq, F.col("mid")).otherwise(F.col("lo"))
            )
            .withColumn(
                "hi",
                F.when(
                    open_, F.when(eq, F.col("hi")).otherwise(F.col("mid") - 1)
                ).otherwise(F.col("hi")),
            )
            .withColumn("lo", F.col("lo2"))
        )
    return df.select(
        "rank_lo", "doc_a", "pos_a", "doc_b", "pos_b",
        F.col("lo").alias("lcp"),
    )


def max_repeat_per_doc(
    docs: DataFrame,
    pairs: DataFrame,
    min_len: int,
    slice_len: int,
    id_col: str = "doc_id",
    text_col: str = "t",
) -> DataFrame:
    """Per-document longest exact repeated substring length
    (doc_id, max_repeat_len) from a PREBUILT ``sa_adjacent_pairs``
    frame — the suffix-array property that the maximal repeat involving
    any suffix is achieved against an SA-NEIGHBOR makes the per-doc max
    exact from adjacent pairs alone (LCP derivation shared with the
    excision operator via ``sa_pair_lcp``).

    The two per-doc sides come from ONE explode, not a unionAll of two
    selects over the same frame — the union form re-executed the whole
    un-checkpointed LCP lineage twice (measured at 10x: ~250 s of a
    ~380 s wall, invisible at sf0.1 where the lineage is seconds)."""
    lcp = sa_pair_lcp(docs, pairs, min_len, slice_len, id_col, text_col)
    sides = lcp.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("doc_id"), F.col("lcp")),
                F.struct(F.col("doc_b").alias("doc_id"), F.col("lcp")),
            )
        ).alias("e")
    ).select(F.col("e.doc_id").alias("doc_id"), F.col("e.lcp").alias("lcp"))
    return sides.groupBy("doc_id").agg(
        F.max("lcp").cast("long").alias("max_repeat_len")
    )


def excision_intervals(pair_lcp: DataFrame) -> DataFrame:
    """Merged per-doc excision islands (doc_id, s, e) — the character
    ranges [s, e) ``excise_substring_dups`` removes — exposed so an
    independent test can assert the coverage guarantee directly
    against a brute-force occurrence enumeration (a rebuilt-text
    replay cannot: it replays whatever rule produced the intervals).

    Rule (r12, run-based — replaces the r11 per-pair greedy whose
    survivors were every LOCAL (doc,pos)-minimum of a run): segment
    the SA into maximal runs (``sa_runs``); within each run keep ONLY
    the (doc_id, pos)-minimum member and mark every other member's
    interval [pos, pos + X) where X = the max LCP of the member's
    (<= 2) adjacent pairs inside the run. GUARANTEE: every duplicated
    >= min_len-char substring s survives in AT MOST one occurrence —
    s's occurrence set is SA-consecutive (everything between two
    occurrences shares >= |s| chars, hence is an occurrence) and so
    lies inside one run where each occurrence has an adjacent
    co-occurrence at LCP >= |s|, giving every non-run-min member
    X >= |s|; at most the run minimum (marked by no pair of this run)
    survives. Exactly-one is NOT guaranteed: the keeper's span may
    overlap an interval marked for a different substring (interval
    union is destructive), and its doc may be excised around it —
    over-excision never under-excision, the safe direction for
    training-data dedup.

    Scale shape: runs come from one assign_stable_ids pass (no
    single-partition stage); member consolidation is a (run_id, rank)
    groupBy; the run-min is a per-RUN window (hash-partitioned by
    run_id); island merging a per-DOC window."""
    from pyspark.sql import Window

    runs = sa_runs(pair_lcp)
    members = runs.select(
        "run_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("rank_lo").alias("rk"),
                    F.col("doc_a").alias("doc_id"),
                    F.col("pos_a").alias("pos"),
                    F.col("lcp"),
                ),
                F.struct(
                    (F.col("rank_lo") + 1).alias("rk"),
                    F.col("doc_b").alias("doc_id"),
                    F.col("pos_b").alias("pos"),
                    F.col("lcp"),
                ),
            )
        ).alias("e"),
    ).select("run_id", "e.rk", "e.doc_id", "e.pos", "e.lcp")
    # one row per suffix in the run: a middle member appears in both
    # its pairs — doc/pos are rank-determined, X = max adjacent LCP
    per_member = members.groupBy("run_id", "rk").agg(
        F.max("doc_id").alias("doc_id"),
        F.max("pos").alias("pos"),
        F.max("lcp").alias("x"),
    )
    w_run = Window.partitionBy("run_id")
    losers = per_member.withColumn(
        "__mn", F.min(F.struct("doc_id", "pos")).over(w_run)
    ).filter(
        ~(
            (F.col("doc_id") == F.col("__mn.doc_id"))
            & (F.col("pos") == F.col("__mn.pos"))
        )
    )
    iv = losers.select(
        "doc_id",
        F.col("pos").alias("s"),
        (F.col("pos") + F.col("x")).alias("e"),
    )
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    return (
        iv.withColumn(
            "ni", F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0)
        )
        .withColumn(
            "island",
            F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .select("doc_id", "s", "e")
    )


def excise_substring_dups(
    docs: DataFrame,
    pair_lcp: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "t",
) -> DataFrame:
    """EXACT substring EXCISION (Lee et al. ACL'22 §4.1's span-removal
    semantics, computed on the ORIGINAL corpus): cut the
    ``excision_intervals`` islands out of each doc's slice and rebuild
    the kept text from the complement gaps — the rule and its
    AT-MOST-ONE-survivor-per-duplicated-substring guarantee are
    documented (and independently tested) on ``excision_intervals``.

    Returns (doc_id, n_chars, n_excised, kept_len, kept_text) over the
    slice domain; n_chars - n_excised == kept_len by construction
    (a free internal consistency check the tests pin).

    Scale shape: intervals are skinny (doc, s, e) rows; the rebuild is
    per-doc; its higher-order aggregate runs interpreted but over
    <= slice_len/min_len islands per doc (bounded, the decode-family
    cap argument)."""
    isl = excision_intervals(pair_lcp)
    merged = isl.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("iv"),
        F.sum(F.col("e") - F.col("s")).alias("n_excised"),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
    )
    joined = base.join(merged, "doc_id", "left")
    # fold the (bounded) island list into the kept text: accumulator
    # carries (next gap start, text so far); finish appends the tail
    kept = F.when(F.col("iv").isNull(), F.col("__t")).otherwise(
        F.aggregate(
            F.col("iv"),
            F.struct(
                F.lit(1).cast("long").alias("cur"), F.lit("").alias("acc")
            ),
            lambda st, x: F.struct(
                x["e"].alias("cur"),
                F.concat(
                    st["acc"],
                    F.expr("__t").substr(
                        st["cur"].cast("int"), (x["s"] - st["cur"]).cast("int")
                    ),
                ).alias("acc"),
            ),
            lambda st: F.concat(
                st["acc"],
                F.expr("__t").substr(
                    st["cur"].cast("int"),
                    (F.length("__t") - st["cur"] + 1).cast("int"),
                ),
            ),
        )
    )
    return joined.select(
        "doc_id",
        F.length("__t").cast("long").alias("n_chars"),
        F.coalesce(F.col("n_excised"), F.lit(0)).cast("long").alias("n_excised"),
        F.length(kept).cast("long").alias("kept_len"),
        kept.alias("kept_text"),
    )
