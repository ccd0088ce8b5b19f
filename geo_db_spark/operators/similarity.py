"""Similarity search over embedding columns (engine-growth contract).

Strategy ladder:
- `cosine_topk_bruteforce`: exact top-k; broadcast the (small) query set
  against the corpus — one pass, no shuffle of the corpus. The all-codegen
  baseline; its per-element interpreted lambdas are fine at 64 dims.
- `cosine_topk_bruteforce_arrow`: the same exact search as one vectorized
  int64 matmul per Arrow batch with batch-local top-k pruning — the
  production path at real (256+) embedding dims, bit-identical output.
- `lsh_bucket` (random-hyperplane sign bits): blocks candidates so that
  at corpus scale the join is bucket-local instead of all-pairs.

Determinism for oracle checks: embeddings are quantized to integers
(floor(x * 2^20)) before dot products, so sums are exact and order-
independent; the final cosine is a single IEEE expression over exact
integers and matches DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geo_db_spark.operators.rounds import checkpoint_round

QUANT = 1 << 20  # 2^20; float32 inputs * 2^20 stay exact in doubles


def quantized(col: Column) -> Column:
    """array<float> -> array<long>, floor(x * 2^20) per element."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * F.lit(QUANT)))


def int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine_from_quantized(dot: Column, n1: Column, n2: Column) -> Column:
    return dot.cast("double") / (F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double")))


def with_quantized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    q = quantized(F.col(vec_col))
    return df.withColumn("q", q).withColumn("qnorm", int_dot(F.col("q"), F.col("q")))


def with_prequantized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """`with_quantized` for a column ALREADY in quantized-integer space
    (e.g. IVF residuals: differences of quantized vectors) — attaches
    q/qnorm without re-scaling."""
    return df.withColumn("q", F.col(vec_col)).withColumn(
        "qnorm", int_dot(F.col("q"), F.col("q"))
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape at scale: queries (small) are broadcast; the corpus is
    scanned once, cosine computed per (query, row) inside codegen, the
    batch-local pre-cut keeps only each scan batch's top-k per query
    (batch_local_topm — without it the q_id window funnels each query's
    O(|corpus|) scores through ONE un-splittable task), and the global
    top-k window runs over the reduced O(batches * k * |Q|) stream —
    skinny (q_id, id, score) rows, never the vectors themselves.
    """
    c = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("c_id"), F.col("q").alias("c_q"), F.col("qnorm").alias("c_n")
    )
    qs = with_quantized(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("q").alias("q_q"), F.col("qnorm").alias("q_n")
    )
    pairs = c.join(F.broadcast(qs), F.col("c_id") != F.col("q_id"))
    dot = int_dot(F.col("c_q"), F.col("q_q"))
    scored = pairs.select(
        "q_id",
        F.col("c_id").alias("neighbor_id"),
        cosine_from_quantized(dot, F.col("q_n"), F.col("c_n")).alias("cosine"),
    )
    scored = batch_local_topm(scored, k, "cosine", ascending=False, id_col="neighbor_id")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def cosine_topk_bruteforce_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors, vectorized: the production shape at
    real embedding dims.

    `cosine_topk_bruteforce` evaluates its dot products with zip_with/
    aggregate lambdas, which Spark interprets PER ELEMENT (~µs each) —
    fine at 64 dims over thousands of vectors, wrong at 768+ dims over
    billions. Here the (small, broadcastable-by-contract) query set is
    collected ONCE into an int64 numpy matrix and closed over by a
    mapInPandas kernel: each Arrow batch of corpus vectors becomes one
    `V @ Q.T` int64 matmul (exact — |v|<=2^20 per element bounds a
    768-dim dot at 2^60), and only the batch-local top-k per query is
    emitted, so the final global window sees O(batches * k * |Q|) rows
    instead of |corpus| * |Q|. Cosine stays one correctly-rounded IEEE
    division of exact integers, so results are bit-identical to the
    codegen baseline and the DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        with_quantized(queries, vec_col)
        .select(F.col(id_col).alias("q_id"), "q", "qnorm")
        .collect()
    )
    if not q_rows:
        raise ValueError("empty query set")
    q_ids = np.array([r["q_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([list(r["q"]) for r in q_rows], dtype=np.int64)
    q_sqrt = np.sqrt(np.array([r["qnorm"] for r in q_rows], dtype=np.float64))

    c = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("c_id"), "q", "qnorm"
    )

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf["q"].to_numpy()).astype(np.int64, copy=False)
            c_ids = pdf["c_id"].to_numpy(np.int64)
            c_sqrt = np.sqrt(pdf["qnorm"].to_numpy(np.float64))
            cos = (v @ q_mat.T).astype(np.float64) / (q_sqrt[None, :] * c_sqrt[:, None])
            cos[c_ids[:, None] == q_ids[None, :]] = -np.inf  # self-pairs out
            # rank key: a zero-norm vector divides 0/0, which the codegen
            # baseline evaluates as NULL (Spark ANSI-off division) and the
            # final `cosine DESC` window orders NULLS LAST — so those rows
            # must be KEPT but ranked below every real cosine (>= -1).
            # The pre-review kernel dropped them outright (bit-identity
            # break); ranking them FIRST would instead evict real
            # neighbors from the batch-local top-k at small k.
            key = np.where(np.isnan(cos), -2.0, cos)
            # batch-local top-k per query under the SAME total order as the
            # global window (cosine desc nulls last, neighbor_id asc): the
            # global top-k is a subset of the union of batch top-ks
            kk = min(k, cos.shape[0])
            order = np.lexsort((c_ids[:, None].repeat(len(q_ids), 1), -key), axis=0)[:kk]
            rows, cols = order.ravel(), np.tile(np.arange(len(q_ids)), kk)
            keep = key[rows, cols] > -np.inf
            yield pd.DataFrame(
                {
                    "q_id": q_ids[cols[keep]],
                    "neighbor_id": c_ids[rows[keep]],
                    "cosine": cos[rows[keep], cols[keep]],
                }
            )

    scored = c.mapInPandas(score, "q_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def simhash_bits(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH code: one bit per hyperplane (deterministic planes
    supplied by the caller). Returns a BIGINT bucket id."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(p) for p in plane]), lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out.cast("long")


SQ_LEVELS = 255  # int8-style scalar quantization: codes in [0, 255]


def sq8_bounds(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Train the scalar quantizer: per-dimension corpus min/max folded
    into ONE row of (lows, scales) arrays. scale_d = 255/(hi-lo) (0 for
    constant dims so their codes collapse to 0).

    100 TB shape: posexplode -> map-side-combined min/max per dim ->
    a dim-count-row aggregate collapsed to one broadcastable row. All
    further coding is codegen arithmetic against that row; the model is
    O(dim) state, like the IVF centroid table."""
    per_dim = (
        corpus.select(F.posexplode(vec_col).alias("d", "x"))
        .groupBy("d")
        .agg(
            F.min(F.col("x").cast("double")).alias("lo"),
            F.max(F.col("x").cast("double")).alias("hi"),
        )
    )
    scale = F.when(
        F.col("hi") > F.col("lo"),
        F.lit(float(SQ_LEVELS)) / (F.col("hi") - F.col("lo")),
    ).otherwise(F.lit(0.0))
    return per_dim.select("d", "lo", scale.alias("scale")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "lo"))), lambda s: s["lo"]
        ).alias("lows"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "scale"))), lambda s: s["scale"]
        ).alias("scales"),
    )


def sq8_codes(vec_col: str = "embedding") -> Column:
    """Codes expression floor((x - lo_d) * scale_d) clamped to [0, 255],
    for a frame already cross-joined with the 1-row bounds (columns
    `lows`/`scales` in scope). array<long> of one-byte values — 4x
    smaller than the float32 vector when persisted as int8, the ANN
    memory-compression path."""
    dx = F.zip_with(
        F.col(vec_col), F.col("lows"), lambda x, lo: x.cast("double") - lo
    )
    return F.zip_with(
        dx,
        F.col("scales"),
        lambda v, s: F.least(
            F.lit(SQ_LEVELS).cast("long"),
            F.greatest(F.lit(0).cast("long"), F.floor(v * s)),
        ),
    )


def batch_local_topm(
    scored: DataFrame,
    m: int,
    score_col: str,
    ascending: bool,
    q_col: str = "q_id",
    id_col: str = "c_id",
) -> DataFrame:
    """Batch-local pre-cut for a per-query candidate stream — the
    scale fix for the scan-ANN family (SQ8 / PQ / IVF-PQ).

    A bare ``Window.partitionBy(q_id)`` cut over the full candidate
    scan is a 100 TB killer: hash partitioning on q_id funnels each
    query's ENTIRE candidate stream — O(|corpus|) skinny rows — through
    ONE task to be sorted, and AQE cannot split a window partition.
    This applies the `cosine_topk_bruteforce_arrow` pattern to an
    already-scored frame: each Arrow batch keeps only its local top-m
    per query (no exchange — the kernel is a pandas sort + head inside
    the scan stage), so the downstream exchange and global window see
    O(batches * m * |Q|) rows instead of |corpus| * |Q|.

    Bit-identical by construction: the batch cut uses the SAME total
    order as the global window — (score, id) with the same direction,
    and NULL placement mirroring Spark's defaults (NULLS FIRST for asc,
    NULLS LAST for desc) — so the global top-m is a subset of the union
    of batch-local top-ms. Callers keep their global window cut; it now
    runs over the reduced stream.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    na_position = "first" if ascending else "last"

    def cut(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(
                [score_col, id_col],
                ascending=[ascending, True],
                na_position=na_position,
            )
            yield pdf.groupby(q_col, sort=False).head(m)

    return scored.mapInPandas(cut, scored.schema)


def _rescore_topk(
    scores: DataFrame,
    score_col: str,
    ascending: bool,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rescore_m: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The approximate searches' second stage: keep each query's top
    ``rescore_m`` (q_id, c_id) candidates by ``score_col`` (ties on
    c_id), rescore them with the exact quantized cosine, and return the
    top ``k`` as (q_id, neighbor_id, cosine, rank)."""
    # batch-local pre-cut: the global window must never consume the
    # unreduced candidate stream (see batch_local_topm)
    scores = batch_local_topm(scores, rescore_m, score_col, ascending=ascending)
    order = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w_cand = Window.partitionBy("q_id").orderBy(order, F.col("c_id"))
    cand = (
        scores.withColumn("__r", F.row_number().over(w_cand))
        .filter(F.col("__r") <= rescore_m)
        .select("q_id", "c_id")
    )
    exact = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("c_id"), F.col("q").alias("c_q"), F.col("qnorm").alias("c_n")
    )
    exact_q = with_quantized(queries, vec_col).select(
        F.col(id_col).alias("q_id"), F.col("q").alias("q_q"), F.col("qnorm").alias("q_n")
    )
    rescored = (
        cand.join(exact, "c_id")
        .join(F.broadcast(exact_q), "q_id")
        .select(
            "q_id",
            F.col("c_id").alias("neighbor_id"),
            cosine_from_quantized(
                int_dot(F.col("c_q"), F.col("q_q")), F.col("q_n"), F.col("c_n")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def cosine_topk_sq8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore_m: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine via int8 scalar quantization with exact
    rescoring (the SQ + reconstruction pattern of FAISS's
    IndexScalarQuantizer, public knowledge): candidate generation
    scores DEQUANTIZED codes — x̂_d = lo_d + code_d/scale_d,
    re-quantized to exact integers so the candidate cosine is
    association-free — keeps the top `rescore_m` per query, then
    rescores just those candidates with the exact quantized cosine on
    the full vectors. (Scoring raw unsigned codes directly is wrong:
    the -lo shift adds lo·Σx cross terms that swamp the inner product —
    measured recall 0.16 vs 1.0 reconstructed.)

    Scale story: the corpus scan for candidates touches only the int8
    codes plus the broadcast O(dim) bounds row (reconstruction is
    codegen arithmetic — the persisted representation stays 4x smaller
    than float32); full vectors are fetched (id-keyed join) for only
    k*m candidates per query. Deterministic end-to-end: integer dots,
    total-order tiebreaks on both cuts."""
    bounds = sq8_bounds(corpus, vec_col)

    def recon_q(df: DataFrame, out_id: str, id_alias: str) -> DataFrame:
        code = sq8_codes(vec_col)
        recon = F.zip_with(
            F.zip_with(
                code,
                F.col("scales"),
                lambda c, s: F.when(s > 0, c.cast("double") / s).otherwise(F.lit(0.0)),
            ),
            F.col("lows"),
            lambda v, lo: v + lo,
        )
        rq = F.transform(recon, lambda x: F.floor(x * F.lit(QUANT)))
        return df.crossJoin(F.broadcast(bounds)).select(
            F.col(id_col).alias(id_alias),
            rq.alias(out_id),
        ).withColumn(out_id + "_n", int_dot(F.col(out_id), F.col(out_id)))

    coded = recon_q(corpus, "c_rq", "c_id")
    coded_q = recon_q(queries, "q_rq", "q_id")
    adc = coded.join(F.broadcast(coded_q), F.col("c_id") != F.col("q_id")).select(
        "q_id",
        "c_id",
        cosine_from_quantized(
            int_dot(F.col("c_rq"), F.col("q_rq")), F.col("q_rq_n"), F.col("c_rq_n")
        ).alias("adc"),
    )
    return _rescore_topk(
        adc, "adc", False, corpus, queries, k, rescore_m, id_col, vec_col
    )


def kmeans_fixed_rounds(
    emb: DataFrame,
    k: int = 8,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
):
    """Lloyd's k-means with a FIXED round count over quantized-integer
    vectors — the IVF centroid TRAINER (public Lloyd 1982): one group
    of ``kmeans_fixed_rounds_grouped``. Returns (assignments,
    centroids): assignments carry (id, cell, dist) with dist the
    exact-integer squared L2 in quantized units; centroids is the final
    (cent_id, c) integer-array table. ``id_col`` must be unique."""
    assigned, cent = kmeans_fixed_rounds_grouped(
        emb.withColumn("__g", F.lit(0)), k, rounds, "__g", id_col, vec_col,
        pre_quantized,
    )
    return assigned.drop("g"), cent.drop("g")


def kmeans_fixed_rounds_grouped(
    emb: DataFrame,
    k: int,
    rounds: int,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
):
    """Lloyd's k-means run INDEPENDENTLY per ``group_col`` value in ONE
    set of jobs — every stage is keyed by the group, so the corpus is
    scanned rounds+1 times TOTAL however many groups there are (the PQ
    subspace trainer keys by the subspace index). ``(group, id_col)``
    must be unique, and every group must carry the same id space.

    Integer-exactness end to end: distances use ||x||² + ||c||² − 2x·c
    on int64; the centroid update floor(Σx_d / n) re-quantizes means to
    ints, so every round's state is exactly representable in BOTH
    engines and the oracle is `rounds` chained CTE blocks — no float
    accumulation anywhere. Fixed rounds (not convergence) keep the plan
    static, pagerank's convention.

    Seeds are the k SMALLEST ids, not filter(id < k): 1-based or
    sparse/hashed id spaces would otherwise silently train with fewer
    (or zero) centroids. Ties in the argmin break on cent_id.

    Scale shape per round: one broadcast of the groups·K centroid rows
    against the corpus scan (a map-side partial MIN picks each vector's
    cell), then one posexplode aggregate for the update — two shuffles
    of skinny rows; centroid state is O(groups·K·dim).

    ``pre_quantized=True`` takes ``vec_col`` as ALREADY integer-valued
    (IVF residuals) and skips the float->int scaling.

    Returns (assignments (g, id, cell, dist), centroids (g, cent_id, c))."""
    wq = with_prequantized if pre_quantized else with_quantized
    # every group shares the id space, so the k smallest ids are the
    # first group's k smallest — a TakeOrdered of k rows, no full sort
    # and no distinct shuffle; it is the job that materializes qdf
    qdf, seed = checkpoint_round(
        wq(emb, vec_col).select(
            F.col(group_col).alias("g"), F.col(id_col).alias("id"), "q", "qnorm"
        ),
        lambda d: d.orderBy("g", "id").limit(k).agg(
            F.collect_list(F.struct("g", "id"))
        ),
    )
    seed_rows = sorted(seed[0])
    seed_ids = [i for g, i in seed_rows if g == seed_rows[0][0]]
    if len(seed_ids) < k:
        raise ValueError(
            f"k-means needs k={k} distinct vectors to seed, found {len(seed_ids)}"
        )
    cent = qdf.filter(F.col("id").isin(seed_ids)).select(
        "g", F.col("id").alias("cent_id"), F.col("q").alias("c")
    )

    # the argmin over a vector's K broadcast-joined candidate rows is a
    # groupBy min(struct(dist, cent_id)): the map-side partial MIN
    # collapses them inside the scan stage, so the exchange carries N
    # rows, not N·K. Carrying q through the same aggregate (first(q) is
    # well-defined: every candidate row of a vector has the same q)
    # saves a members join in the update.
    def assign(centroids: DataFrame, carry_q: bool = False) -> DataFrame:
        c = centroids.withColumn("c_n", int_dot(F.col("c"), F.col("c")))
        scored = qdf.join(F.broadcast(c), "g").select(
            "g",
            "id",
            "q",
            F.struct(
                (
                    F.col("qnorm") + F.col("c_n")
                    - 2 * int_dot(F.col("q"), F.col("c"))
                ).alias("dist"),
                F.col("cent_id").alias("cent_id"),
            ).alias("__cand"),
        )
        aggs = [F.min("__cand").alias("__b")]
        if carry_q:
            aggs.append(F.first("q").alias("q"))
        return scored.groupBy("g", "id").agg(*aggs).select(
            "g",
            "id",
            F.col("__b.cent_id").alias("cell"),
            F.col("__b.dist").alias("dist"),
            *(["q"] if carry_q else []),
        )

    for _ in range(rounds):
        per_dim = assign(cent, carry_q=True).select(
            "g", "cell", F.posexplode("q").alias("d", "x")
        ).groupBy("g", "cell", "d").agg(
            F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
        )
        # no probe: the round's K-row result stage rides the next
        # consumer's job (the next round's centroid broadcast, or the
        # caller's first action after the final round)
        cent, _ = checkpoint_round(
            per_dim.withColumn(
                "v", F.floor(F.col("s").cast("double") / F.col("n")).cast("long")
            ).groupBy("g", "cell").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "v"))), lambda s: s["v"]
                ).alias("c")
            ).select("g", F.col("cell").alias("cent_id"), "c")
        )

    return assign(cent), cent


def pq_train_encode_adc(
    corpus: DataFrame,
    queries: DataFrame,
    m_sub: int = 4,
    k_cent: int = 8,
    train_rounds: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pre_quantized: bool = False,
):
    """PQ shared machinery: per-subspace integer-exact Lloyd codebooks,
    corpus encoding (codes: one row per vector, ``m_sub`` centroid-id
    columns), and per-query ADC distance tables (dts[m]: (q_id, code_m,
    d_m), K rows per query per subspace — the broadcast lookup side).
    Used by cosine_topk_pq (flat PQ) and ivf_pq_topk (cell-restricted;
    ``pre_quantized=True`` for its residual form, whose inputs are
    already integer-valued).

    All m_sub codebooks train in ONE grouped Lloyd run keyed by the
    subspace index, so the corpus slices explode once."""
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    sub_w = dim // m_sub
    wq = with_prequantized if pre_quantized else with_quantized

    def sliced(df: DataFrame) -> DataFrame:
        return df.select(
            id_col,
            F.posexplode(
                F.array(
                    *[
                        F.slice(F.col(vec_col), m * sub_w + 1, sub_w)
                        for m in range(m_sub)
                    ]
                )
            ).alias("m", vec_col),
        )

    assigned, cent = kmeans_fixed_rounds_grouped(
        sliced(corpus), k=k_cent, rounds=train_rounds, group_col="m",
        id_col=id_col, vec_col=vec_col, pre_quantized=pre_quantized,
    )
    codes = assigned.groupBy(F.col("id").alias("c_id")).agg(
        *[
            F.max(F.when(F.col("g") == m, F.col("cell"))).alias(f"code{m}")
            for m in range(m_sub)
        ]
    )

    qsub = wq(sliced(queries), vec_col).select(
        F.col("m").alias("g"), F.col(id_col).alias("q_id"), "q", "qnorm"
    )
    c = cent.withColumn("c_n", int_dot(F.col("c"), F.col("c")))
    dt_all = qsub.join(F.broadcast(c), "g").select(
        "g",
        "q_id",
        "cent_id",
        (
            F.col("qnorm") + F.col("c_n") - 2 * int_dot(F.col("q"), F.col("c"))
        ).alias("d"),
    ).localCheckpoint(eager=True)
    dts = [
        dt_all.filter(F.col("g") == m).select(
            "q_id",
            F.col("cent_id").alias(f"code{m}"),
            F.col("d").alias(f"d{m}"),
        )
        for m in range(m_sub)
    ]
    return codes, dts


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore_m: int = 20,
    m_sub: int = 4,
    k_cent: int = 8,
    train_rounds: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze, Schmid TPAMI 2011 —
    public) with exact rescore: the vector splits into ``m_sub``
    subspaces, each trained with the integer-exact Lloyd trainer
    (kmeans_fixed_rounds on the SLICED vectors — quantize and slice
    commute elementwise, which is what lets the oracle mirror this);
    every corpus vector is then encoded as ``m_sub`` small centroid ids
    (the 64x-compressed representation a 100 TB scan keeps hot), and
    query-time ADC sums per-subspace exact-integer squared-L2 lookup
    tables instead of touching vectors. Top ``rescore_m`` ADC candidates
    per query are rescored with the exact quantized cosine — the same
    two-stage contract as cosine_topk_sq8.

    Determinism end to end: the trainer is integer-exact, codes are
    argmin with (dist, cent_id) total order, ADC distances are int64
    sums, and both cuts tie-break on ids — the DuckDB oracle replays
    training, encoding, ADC and rescore verbatim.

    Scale shape: training/encoding touches the corpus ``train_rounds+2``
    times with K-row broadcasts; the ADC scan joins the CODES table
    (m_sub ints per row) against m_sub broadcast distance tables of
    K rows each — no vector ever moves at query time; full vectors are
    fetched (id-keyed) for only rescore_m candidates per query."""
    codes, dts = pq_train_encode_adc(
        corpus, queries, m_sub, k_cent, train_rounds, dim, id_col, vec_col
    )

    adc = codes
    for m, dt in enumerate(dts):
        adc = adc.join(
            F.broadcast(dt),
            on=[f"code{m}"] if m == 0 else ["q_id", f"code{m}"],
        )
    from functools import reduce

    adist = reduce(
        lambda a, b: a + b, [F.col(f"d{m}") for m in range(m_sub)]
    )  # exact int64 sum — association-free
    adc = adc.filter(F.col("c_id") != F.col("q_id")).select(
        "q_id", "c_id", adist.alias("adist")
    )
    return _rescore_topk(
        adc, "adist", True, corpus, queries, k, rescore_m, id_col, vec_col
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    rescore_m: int = 10,
    coarse_k: int = 16,
    coarse_rounds: int = 2,
    m_sub: int = 4,
    k_cent: int = 8,
    train_rounds: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ — the production large-scale ANN shape (FAISS IndexIVFPQ,
    Jégou TPAMI'11): trained coarse cells bound WHICH vectors are
    probed, PQ codes bound WHAT is read per probed vector, exact rescore
    bounds the full-vector fetches.

    ``residual=True`` (r7 verdict #2) is the FAISS-faithful by_residual
    form: PQ codebooks are trained on the POOLED residuals x − c(x)
    (each vector minus its trained coarse centroid, exact integer
    subtraction in quantized space), the corpus is encoded as residual
    codes, and each query's ADC tables are built from ITS residual
    w.r.t. the probed cell (probe = own cell here, so q − c(q)). Raw
    codebooks must spread k_cent centroids per subspace across the
    ABSOLUTE positions of all coarse_k cells; residual codebooks only
    encode the within-cell spread, so on a corpus with cluster
    structure the same code budget resolves much finer — the recall
    gap is measured in test_ann_recall on a clustered corpus (the
    repo's synthetic embeddings table has no cluster structure, where
    residual ties no-residual, documented honestly). ``residual=False``
    keeps the raw-subvector form as the ablation baseline. Queries are
    assumed drawn from the corpus (same contract as the probe's
    own-cell lookup).

    Scale: the residual transform is one broadcast join against the
    K-row centroid table inside the scan — at query time still NOTHING
    full-width moves: the probe is a cell-equi-join of the (cell, 4
    small ints) codes table against the broadcast query cells, ADC is 4
    broadcast lookup joins, and only rescore_m candidates per query
    fetch real vectors."""
    if not residual:
        # the raw-subvector PQ training chain reads ONLY the corpus, so
        # it is independent of the coarse k-means chain until the probe
        # joins codes with cells: run it on a driver thread, where its
        # jobs back-fill the executor time the coarse chain's small
        # sequential jobs leave idle.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(
                inheritable_thread_target(
                    lambda: pq_train_encode_adc(
                        corpus, queries, m_sub, k_cent, train_rounds, dim,
                        id_col, vec_col,
                    )
                )
            )
            try:
                assigned, cent = kmeans_fixed_rounds(
                    corpus, k=coarse_k, rounds=coarse_rounds, id_col=id_col,
                    vec_col=vec_col,
                )
                # the assignment feeds the codes join AND the query-cells
                # branch below — without materialization each branch
                # re-runs the K-way scoring over the corpus
                cells = assigned.select(
                    F.col("id").alias("c_id"), "cell"
                ).localCheckpoint(eager=True)
            except Exception as exc:
                # a running PQ chain cannot be cancelled: await it, and
                # never drop its failure behind this one
                if not fut.cancel() and (pq_exc := fut.exception()) is not None:
                    exc.add_note(f"the concurrent PQ training also failed: {pq_exc!r}")
                raise
            codes, dts = fut.result()
    else:
        assigned, cent = kmeans_fixed_rounds(
            corpus, k=coarse_k, rounds=coarse_rounds, id_col=id_col, vec_col=vec_col
        )
        # the assignment feeds THREE branches below (codes join, query
        # cells, and the residual transform); the coverage-guard count
        # is the first job through it and materializes it
        cells = assigned.select(F.col("id").alias("c_id"), "cell").localCheckpoint(
            eager=False
        )
        cq = with_quantized(corpus, vec_col).select(
            F.col(id_col).alias("c_id"), "q"
        )
        centr = cent.select(F.col("cent_id").alias("cell"), F.col("c").alias("__cc"))
        resid = (
            cq.join(cells, "c_id")
            .join(F.broadcast(centr), "cell")
            .select(
                F.col("c_id").alias(id_col),
                F.zip_with("q", "__cc", lambda x, y: x - y).alias(vec_col),
            )
            # consumed by BOTH the codebook training input and the
            # query-residual semi-join; the coverage-guard count below
            # materializes it (its anti-join reads every partition)
            .localCheckpoint(eager=False)
        )
        # queries must be corpus members for their residuals to exist —
        # a query id outside the corpus would otherwise silently yield
        # EMPTY ADC tables and zero results.
        uncovered = (
            queries.select(F.col(id_col).alias(id_col))
            .join(resid.select(id_col), id_col, "left_anti")
            .count()
        )
        if uncovered:
            raise ValueError(
                f"ivf_pq_topk(residual=True): {uncovered} query id(s) are "
                "not in the corpus — residual queries must be corpus members"
            )
        rq = resid.join(
            queries.select(F.col(id_col).alias(id_col)), id_col, "left_semi"
        )
        codes, dts = pq_train_encode_adc(
            resid, rq, m_sub, k_cent, train_rounds, dim, id_col, vec_col,
            pre_quantized=True,
        )
    coded = codes.join(cells, "c_id")
    qcells = cells.withColumnsRenamed({"c_id": "q_id"}).join(
        queries.select(F.col(id_col).alias("q_id")), "q_id"
    )

    adc = coded.join(F.broadcast(qcells), "cell")
    for m, dt in enumerate(dts):
        adc = adc.join(F.broadcast(dt), ["q_id", f"code{m}"])
    from functools import reduce

    adist = reduce(lambda a, b: a + b, [F.col(f"d{m}") for m in range(m_sub)])
    adc = adc.filter(F.col("c_id") != F.col("q_id")).select(
        "q_id", "c_id", adist.alias("adist")
    )
    return _rescore_topk(
        adc, "adist", True, corpus, queries, k, rescore_m, id_col, vec_col
    )


def opq_dim_allocation(
    corpus: DataFrame,
    m_sub: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
) -> list[int]:
    """OPQ dimension allocation restricted to the NATURAL basis (Ge,
    He, Ke & Sun CVPR'13 "Optimized Product Quantization" §4's
    eigenvalue-allocation idea as a coordinate PERMUTATION): rank
    dimensions by total corpus energy (sum of squared quantized values
    — integer-exact, so the DuckDB oracle replays the ranking
    bit-identically), then deal them to the m_sub subspaces in SNAKE
    order (0,1,..,m-1,m-1,..,1,0,...) — the closed-form balanced
    allocation, unlike greedy-min-bucket which would need a
    64-step recursion to replay in SQL. A permutation is orthogonal,
    so cosine/L2 are preserved exactly and the rescore stage needs no
    change. Returns the permuted dimension order (group-major).

    Per-element energies are pre-shrunk by div 2^16 before the sum so
    the int64 total cannot overflow below ~5e11 vectors (quantized
    values are <= ~2^20, squares <= 2^40). The 64-row energy table is
    a bounded driver collect (the centroid-seed convention).
    """
    if dim % m_sub != 0:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    wq = with_quantized(corpus, vec_col)
    en = (
        wq.select(F.posexplode("q").alias("d", "v"))
        .groupBy("d")
        .agg(F.sum(F.expr("(v * v) div 65536")).alias("en"))
        .collect()
    )
    energy = {int(r["d"]): int(r["en"]) for r in en}
    ranked = sorted(range(dim), key=lambda d: (-energy.get(d, 0), d))
    groups: list[list[int]] = [[] for _ in range(m_sub)]
    for rk, d in enumerate(ranked):
        block, off = divmod(rk, m_sub)
        g = off if block % 2 == 0 else m_sub - 1 - off
        groups[g].append(d)  # within-group order = rank order
    return [d for g in groups for d in g]


def cosine_topk_opq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore_m: int = 20,
    m_sub: int = 4,
    k_cent: int = 8,
    train_rounds: int = 1,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ with OPQ dimension allocation (Ge CVPR'13 §4, natural-basis
    permutation form): the corpus-energy-balanced permutation from
    opq_dim_allocation is applied as one codegen projection, then the
    UNCHANGED PQ machinery (grouped Lloyd training, encoding, ADC,
    exact rescore) runs on the permuted vectors. Because the
    permutation is orthogonal, every cosine — candidate and rescore —
    is identical to computing on the original vectors; only the
    SUBSPACE BOUNDARIES move, which is the whole point: a contiguous
    split concentrates high-variance dimensions in few subspaces and
    starves the rest's codebooks, balanced allocation spreads the
    energy so each 8-centroid codebook quantizes a comparable signal.
    The full LEARNED-rotation OPQ (alternating Procrustes/Lloyd) is
    opq_train_rotation — test-gated, since an SVD cannot be replayed
    in the SQL oracle; this permutation form is the oracle-gated
    member of the family."""
    perm = opq_dim_allocation(corpus, m_sub, dim, vec_col)

    def permuted(df: DataFrame) -> DataFrame:
        pv = F.array(*[F.get(F.col(vec_col), F.lit(int(d))) for d in perm])
        return df.select(F.col(id_col), pv.alias(vec_col))

    return cosine_topk_pq(
        permuted(corpus), permuted(queries), k, rescore_m, m_sub, k_cent,
        train_rounds, dim, id_col, vec_col,
    )


def _lloyd_np(x, k: int, rounds: int = 10):
    """Plain-numpy Lloyd for the driver-side OPQ sample: seeds = first
    k rows (the sample is already in smallest-id order, mirroring the
    distributed trainer's TakeOrdered seed rule), argmin ties go to the
    lowest centroid index, empty cells keep their previous centroid."""
    import numpy as np

    cb = x[:k].copy()
    for _ in range(rounds):
        d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
        code = d2.argmin(1)
        for j in range(k):
            pts = x[code == j]
            if len(pts):
                cb[j] = pts.mean(0)
    return cb


def opq_train_rotation(
    corpus: DataFrame,
    m_sub: int = 4,
    k_cent: int = 8,
    iters: int = 5,
    sample_n: int = 2048,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Full OPQ rotation training (Ge CVPR'13 §5, the non-parametric
    alternation): repeat { rotate the sample, train per-subspace
    codebooks, quantize, solve the orthogonal Procrustes problem
    R = U V^T from SVD(X^T X_quantized) } — each step monotonically
    lowers ||X R - X̂||^2, the PQ distortion the recall gap comes from.

    Trained DRIVER-SIDE on a bounded deterministic sample (the
    ``sample_n`` smallest ids): an SVD is neither expressible as
    DataFrame ops nor replayable in the DuckDB oracle, so this
    operator is TEST-gated (recall measurement on the clustered-corpus
    rig) while its permutation sibling cosine_topk_opq is the
    oracle-gated family member. Rotation APPLICATION is distributed
    (one Arrow-batch matmul — see cosine_topk_opq_rotated). Returns
    the (dim, dim) orthogonal numpy matrix.
    """
    import numpy as np

    rows = (
        corpus.orderBy(id_col).limit(sample_n).select(vec_col).collect()
    )
    if len(rows) < k_cent:
        raise ValueError(f"OPQ needs >= {k_cent} sample vectors, got {len(rows)}")
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    return _opq_rotation_from_matrix(x, m_sub, k_cent, iters, dim)


def _opq_rotation_from_matrix(x, m_sub: int, k_cent: int, iters: int, dim: int):
    """The OPQ-NP alternation over an in-memory sample matrix — shared
    by the flat trainer (raw sample) and the IVF composition (which
    trains on coarse-cell RESIDUALS, the distribution its PQ actually
    encodes)."""
    import numpy as np

    sub_w = dim // m_sub
    r_mat = np.eye(dim)
    for _ in range(iters):
        z = x @ r_mat
        zq = np.empty_like(z)
        for m in range(m_sub):
            sl = slice(m * sub_w, (m + 1) * sub_w)
            cb = _lloyd_np(z[:, sl], k_cent)
            d2 = ((z[:, sl][:, None, :] - cb[None, :, :]) ** 2).sum(-1)
            zq[:, sl] = cb[d2.argmin(1)]
        u, _s, vt = np.linalg.svd(x.T @ zq)
        r_mat = u @ vt
    return r_mat


def cosine_topk_opq_rotated(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore_m: int = 20,
    m_sub: int = 4,
    k_cent: int = 8,
    train_rounds: int = 1,
    iters: int = 5,
    sample_n: int = 2048,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search under the full learned OPQ rotation: train R on a
    bounded sample (opq_train_rotation), apply it distributively (one
    float64 matmul per Arrow batch — the rotation is dim x dim,
    broadcast by closure), then run the unchanged PQ machinery on the
    rotated vectors. Orthogonality preserves cosine, so candidate and
    rescore semantics are identical; only the subspace decomposition
    — and therefore codebook quality — changes. Test-gated (see
    opq_train_rotation)."""
    r_mat = opq_train_rotation(
        corpus, m_sub, k_cent, iters, sample_n, dim, id_col, vec_col
    )
    return cosine_topk_pq(
        _apply_rotation(corpus, r_mat, id_col, vec_col),
        _apply_rotation(queries, r_mat, id_col, vec_col),
        k, rescore_m, m_sub, k_cent, train_rounds, dim, id_col, vec_col,
    )


def _apply_rotation(df: DataFrame, r_mat, id_col: str, vec_col: str) -> DataFrame:
    """Distributed rotation application: one float64 matmul per Arrow
    batch (the dim x dim matrix broadcasts by closure), materialized
    because PQ/IVF consume the frame in several branches (training
    slices, encoding, rescore fetch — the ids.py double-compute rule)."""
    import numpy as np

    src = df.select(F.col(id_col), F.col(vec_col))

    def rot(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out = v @ r_mat
            yield pd.DataFrame({id_col: pdf[id_col], vec_col: list(out)})

    return src.mapInPandas(
        rot, f"{id_col} long, {vec_col} array<double>"
    ).localCheckpoint(eager=True)


def ivf_pq_opq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    rescore_m: int = 10,
    coarse_k: int = 16,
    m_sub: int = 4,
    k_cent: int = 8,
    iters: int = 5,
    sample_n: int = 2048,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The FAISS production composition "OPQ,IVF,PQ" (the index
    factory's OPQ..,IVF..,PQ.. shape — Ge CVPR'13 rotation in front of
    the Jégou TPAMI'11 residual IVF-PQ): train the rotation on a
    bounded sample, rotate corpus and queries distributively, then run
    the UNCHANGED residual IVF-PQ. Orthogonality preserves cosine, so
    coarse cells, residuals and rescore all operate in the rotated
    space without semantic change; the rotation only re-shapes what the
    per-subspace codebooks see. Crucially (and unlike a naive
    composition), the rotation trains on the sample's COARSE-CELL
    RESIDUALS — the distribution the PQ actually encodes; trained on
    the raw sample it optimizes flat-PQ distortion, which the residual
    step then discards (measured: a tie). Test-gated like its flat
    sibling (opq_train_rotation's SVD is not SQL-replayable)."""
    import numpy as np

    rows = corpus.orderBy(id_col).limit(sample_n).select(vec_col).collect()
    if len(rows) < coarse_k:
        raise ValueError(f"OPQ-IVF needs >= {coarse_k} sample vectors")
    x = np.array([list(r[0]) for r in rows], dtype=np.float64)
    cb = _lloyd_np(x, coarse_k)
    d2 = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
    resid = x - cb[d2.argmin(1)]
    r_mat = _opq_rotation_from_matrix(resid, m_sub, k_cent, iters, dim)
    return ivf_pq_topk(
        _apply_rotation(corpus, r_mat, id_col, vec_col),
        _apply_rotation(queries, r_mat, id_col, vec_col),
        k=k, rescore_m=rescore_m, coarse_k=coarse_k, m_sub=m_sub,
        k_cent=k_cent, dim=dim, id_col=id_col, vec_col=vec_col,
        residual=True,
    )
