"""Deduplication operators for large-scale training-data pipelines.

None of these exist in the reference (its dedup is PK-conflict-ignore at
the SQLite sink, src/database.rs:101-134, generalized here per the
engine-growth contract). All are pure DataFrame compositions — shuffles
only on the blocking keys, no Python in the hot path.

Determinism: hashes are derived from md5 (same algorithm in Spark and
DuckDB) so results are oracle-checkable bit-for-bit.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 8 hex chars of md5 -> fits int32 range in a BIGINT, same value in DuckDB
# via ('0x' || substr(md5(s),1,8))::BIGINT.
def md5_prefix64(col: Column, nchars: int = 8) -> Column:
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, nchars), 16, 10).cast("long")


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup on normalized text: keep the lowest id per digest.

    Scale: group key is a 32-char digest, not the document body — the
    shuffle moves (digest, id) pairs only, not the payload; survivors are
    recovered by a self-semi-join which AQE plans as a broadcast when the
    survivor set is small.
    """
    digest = F.md5(normalize_text(F.col(text_col)).cast("binary"))
    keyed = df.select(F.col(id_col), digest.alias("digest"))
    winners = keyed.groupBy("digest").agg(F.min(id_col).alias(id_col))
    return winners


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from raw text (lowercased, whitespace
    tokenized); documents shorter than n tokens yield no shingles.
    Used by MinHash / Jaccard dedup.

    Implementation: one regex pass — a lookbehind anchors at token
    starts, a zero-width lookahead CAPTURES the n-token window, so
    overlapping shingles come out of a single codegen'd
    regexp_extract_all. The obvious transform(sequence, slice+join)
    formulation runs its lambda interpreted per position and was ~5 s
    per pass over 260k shingles at sf0.1 (r2 bench profile) — the regex
    is the same semantics at JVM regex-loop speed."""
    pat = r"(?<= |^)(?=(" + r"\S+ " * (n - 1) + r"\S+))"
    return F.array_distinct(
        F.regexp_extract_all(normalize_text(col), F.lit(pat), 1)
    )


# ---------------------------------------------------------------- MinHash

# Fixed odd coefficients for the 12 universal-hash minhash functions
# h_i(x) = (a_i * x + b_i) mod P — shared verbatim with the DuckDB oracle
# so signatures match bit-for-bit. 12 hashes = 6 bands x 2 rows: bucket
# collision probability 1-(1-j^2)^6 (~0.79 at j=0.5, ~0.99 at j=0.7).
MINHASH_P = (1 << 61) - 1
MINHASH_COEFFS = [
    (1610612741, 805306457),
    (402653189, 201326611),
    (100663319, 50331653),
    (25165843, 12582917),
    (6291469, 3145739),
    (1572869, 786433),
    (393241, 196613),
    (98317, 49157),
    (24593, 12289),
    (6151, 3079),
    (1543, 769),
    (389, 193),
]
MINHASH_ROWS_PER_BAND = 2


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(id, sh: array<string>) -> (id, m0..m11): explode the shingles to
    rows, hash each in whole-stage codegen (md5 prefix as integer — same
    value as DuckDB's ('0x'||substr(md5(s),1,8))::BIGINT), then compute
    all 12 min-hashes as grouped MIN aggregates.

    Why rows, not array lambdas: higher-order functions (transform /
    aggregate over arrays) evaluate their lambda INTERPRETED per element
    — an md5 per shingle through that path dominated the r1 bench
    (~15 s/5k docs). The explode+groupBy shape keeps every expression
    inside Tungsten codegen, and map-side partial MIN collapses the
    exploded rows back to |docs| * 12 longs before the shuffle — the
    same scale shape as the simhash operator below.
    """
    ex = sh.select("id", F.explode("sh").alias("s"))
    h = F.conv(F.substring(F.md5(F.col("s").cast("binary")), 1, 8), 16, 10).cast("long")
    hashed = ex.select("id", h.alias("h"))
    return hashed.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS)
        ]
    )


# Buckets with more members than this are dropped from candidate
# generation: boilerplate-heavy corpora (the common 100 TB case) produce
# mega-buckets whose in-bucket self-join is quadratic. Members of a
# dropped bucket can still pair through their other 5 bands, and true
# near-dups agree on many bands, so recall loss is confined to documents
# that ONLY collide inside hot (i.e. low-information) buckets.
MINHASH_MAX_BUCKET = 64


# The signature DataFrame feeds three plan branches (bucket sizes, both
# sides of the bucket self-join); caching it avoids recomputing the
# md5+minhash tree per branch. Cached rows are (id, 12 longs) ONLY —
# never the shingle payload (ADVICE r1: caching shingle arrays is a
# storage leak at corpus scale).
#
# Registry semantics (ADVICE r2): keyed per SparkSession — concurrent
# sessions never touch each other's entries — and evicted FIFO with a
# small window instead of unpersist-on-next-call, so the common pattern
# (minhash_lsh_pairs + minhash_hot_buckets lazily consumed side by side)
# keeps both plans cached; only entries >_SIG_CACHE_KEEP calls old are
# unpersisted (their lazy consumers silently recompute, which is
# correct, just not free). Guarded by a lock for multi-threaded drivers.
_SIG_CACHE: dict[int, list[DataFrame]] = {}
_SIG_CACHE_KEEP = 4
_SIG_CACHE_LOCK = threading.Lock()


def _cache_session_scoped(df: DataFrame) -> DataFrame:
    df = df.cache()
    key = id(df.sparkSession)
    with _SIG_CACHE_LOCK:
        reg = _SIG_CACHE.setdefault(key, [])
        # an older frame with the same plan shares df's cache entry:
        # evicting it later would unpersist df too
        reg[:] = [d for d in reg if not d.sameSemantics(df)]
        reg.append(df)
        while len(reg) > _SIG_CACHE_KEEP:
            reg.pop(0).unpersist(False)
    return df


def _minhash_buckets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, bucket) pairs: shingle -> 12 minhashes -> 6 banded buckets."""
    r = MINHASH_ROWS_PER_BAND
    sh = df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
    sig = _cache_session_scoped(minhash_signatures(sh))
    n_bands = len(MINHASH_COEFFS) // r
    bands = F.array(
        *[
            F.concat_ws(",", F.lit(k), *[F.col(f"m{k * r + j}") for j in range(r)])
            for k in range(n_bands)
        ]
    )
    return sig.select("id", F.explode(bands).alias("bucket"))


def minhash_hot_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int = MINHASH_MAX_BUCKET,
) -> DataFrame:
    """Observability side-output: the buckets excluded by the hot-bucket
    cap, with their member counts. Empty on healthy corpora."""
    b = _minhash_buckets(df, text_col, id_col, n)
    return (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > max_bucket)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = MINHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs by MinHash + LSH banding + exact-Jaccard
    verification: shingle -> 12 minhashes -> 6 band buckets -> bucket-local
    candidate pairs -> exact Jaccard on the candidates only.

    Scale shape: the only joins are (a) the band-bucket self-join, which
    is local to each bucket AND capped at max_bucket members (hot buckets
    from boilerplate corpora would otherwise go quadratic — use
    minhash_hot_buckets to observe what was dropped), and (b) recovering
    the two shingle sets per CANDIDATE pair from the source — never an
    all-pairs product over the corpus, and never a cached/shuffled
    shingle payload. Deterministic: fixed coefficients, md5 base hash,
    exact integer arithmetic.
    """
    buckets = _minhash_buckets(df, text_col, id_col, n)
    # bucket-size cap via a count window over the SAME shuffle the
    # self-join needs: the window's hashpartitioning(bucket) satisfies
    # the join's distribution requirement, so sizing + filtering + both
    # join sides ride ONE shuffle (the r2 shape — groupBy sizes + a
    # broadcast anti-join — paid an extra aggregate and join stage; ~2 s
    # of the bench at sf0.1 was that plumbing). A count-only window over
    # a mega-bucket partition spills harmlessly; nothing materializes
    # per-bucket arrays.
    w = Window.partitionBy("bucket")
    kept = (
        buckets.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )
    cand = (
        kept.alias("a")
        .join(kept.alias("b"), "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # cand feeds three branches (both arms of cand_ids + the pair join);
    # it is tiny by construction (bucket-cap-bounded), so cache it in the
    # same session-scoped registry as the signatures
    cand = _cache_session_scoped(cand)
    # candidates are a small fraction of the corpus: recompute shingles
    # ONLY for documents appearing in a candidate pair (semi-join first),
    # then attach both sides. The payload is never cached and never
    # computed corpus-wide a second time; with `sets` small, AQE plans
    # both attach joins as broadcasts.
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = (
        df.join(cand_ids, df[id_col] == cand_ids["id"], "left_semi")
        .select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
    )
    pairs = (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_block: int = MINHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs by raw n-gram Jaccard with MIN-SHINGLE
    blocking: each document is keyed by the minimum md5 hash of its
    shingles (a 1-function MinHash), candidates share that key, exact
    Jaccard verifies.

    This is the cheap single-shuffle cousin of ``minhash_lsh_pairs``:
    P(two docs share their min shingle) equals their true Jaccard, so
    recall at threshold j is ~j (vs ~1-(1-j^2)^6 for the 6-band LSH) —
    the right first pass when one pass over the corpus is the budget.
    Blocks are capped at ``max_block`` members by the same count-window
    trick as the LSH buckets (a boilerplate shingle that becomes the min
    for millions of docs would otherwise go quadratic). Deterministic:
    the block key is the numeric min hash, ties don't exist, and hash
    collisions between distinct shingles only add candidates that the
    exact-Jaccard filter re-checks anyway.
    """
    sh = df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
    ex = sh.select("id", F.explode("sh").alias("s"))
    h = F.conv(F.substring(F.md5(F.col("s").cast("binary")), 1, 8), 16, 10).cast("long")
    keyed = ex.select("id", h.alias("h")).groupBy("id").agg(F.min("h").alias("block"))
    w = Window.partitionBy("block")
    kept = (
        keyed.withColumn("__bn", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn") <= max_block)
        .drop("__bn")
    )
    # one block per doc -> pairs are already unique, no distinct needed
    cand = (
        kept.alias("a")
        .join(kept.alias("b"), "block")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = df.join(cand_ids, df[id_col] == cand_ids["id"], "left_semi").select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh")
    )
    pairs = (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------- SimHash

SIMHASH_BITS = 60  # 15 md5 hex chars -> 60-bit token hashes


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash over distinct tokens: bit j of the fingerprint is
    the majority vote of bit j across token hashes (ties -> 1). Exact
    integer arithmetic, identical in the DuckDB oracle."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))).alias("tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10).cast("long")
    toks = toks.select("id", h.alias("h"))
    votes = toks.groupBy("id").agg(
        *[
            F.sum(((F.shiftright(F.col("h"), j) % 2) * 2 - 1)).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{j}") >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return votes.select(F.col("id").alias(id_col), fp.alias("simhash"))


# ------------------------------------------------------------- Winnowing

WINNOW_POS_BITS = 20  # selection key = hash * 2^20 + pos; docs < 1M chars


def _spread_docs(docs: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism ONLY when the input is under-
    partitioned (the single-file test parquet would otherwise run the
    whole per-char gram explode in one task). A production corpus that
    already has >= defaultParallelism partitions keeps its layout —
    the full (id, text) shuffle would be a pure no-op cost there."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= parallelism:
        return docs
    return docs.repartition(parallelism)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 "Winnowing: Local Algorithms for Document Fingerprinting"
    — the MOSS algorithm, public): hash every k-char gram, slide a
    w-hash window, select each window's minimum — the guarantee is that
    any duplicated substring of length >= w + k - 1 shares at least one
    SELECTED gram in every copy, because selection depends only on the
    hash sequence, which is content-determined. This is the
    substring-level exact-dup primitive (Lee et al. ACL'22 measured
    such duplication rampant in web corpora) that document-level
    MinHash/SimHash cannot see.

    Determinism across engines: gram hash = md5 prefix (32 bits, the
    dedup.py convention); the window minimum runs over ONE BIGINT key
    hash * 2^20 + pos — order-equivalent to lexicographic (hash, pos),
    so both engines pick the same gram without struct-ordering
    semantics. (Classic robust winnowing breaks hash ties RIGHTMOST;
    this picks the leftmost, an equally valid deterministic choice —
    the guarantee only needs consistency.) Positions must fit 20 bits:
    docs longer than ~1M chars raise rather than silently corrupt keys.

    Returns distinct selected fingerprints (id, gram_hash, pos, gram).
    Scale shape: |text| skinny rows per doc, hashing in codegen, the
    sliding min is a per-DOC window (partitioned by the id — never a
    single task), then one distinct on (id, key).
    """
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1: got k={k}, w={w}")
    # spread docs BEFORE the gram explode: the test corpora are
    # single-file parquet, so without this the |text|-per-doc gram
    # materialization + md5 runs in ONE scan task (the decode-family
    # repartition lesson; measured: the 10x winnow run sat single-task
    # for minutes). Skinny shuffle — only (id, text) moves, once, and
    # only when the input is actually under-partitioned.
    docs = _spread_docs(docs)
    n_grams = F.length(F.col(text_col)) - F.lit(k - 1)
    guarded_len = F.when(
        F.length(F.col(text_col)) < F.lit(1 << WINNOW_POS_BITS),
        n_grams,
    ).otherwise(
        F.raise_error(
            F.lit(f"winnow_fingerprints: document exceeds 2^{WINNOW_POS_BITS} chars")
        )
    )
    # explode positions THEN substring in a plain projection (r13): the
    # old transform(sequence, substr) HOF ran its lambda INTERPRETED per
    # gram (~|text| per doc); explode+substring is the same rows fully
    # inside whole-stage codegen (the shingles/suffix convention).
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(guarded_len, F.lit(0)))
        ).alias("pos"),
        F.col(text_col).alias("__wt"),
    ).select("id", "pos", F.expr(f"substring(__wt, pos, {k})").alias("gram"))
    h = F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    keyed = grams.select(
        "id",
        "pos",
        "gram",
        (h * F.lit(1 << WINNOW_POS_BITS) + F.col("pos")).alias("key"),
    )
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_w = F.count(F.lit(1)).over(win)
    selected = (
        keyed.withColumn("sel", F.min("key").over(win))
        # only FULL windows select (the last w-1 starts are covered by
        # earlier windows; a doc shorter than w+k-1 has no guarantee to
        # give and selects nothing)
        .withColumn("__nw", n_w)
        .filter(F.col("__nw") == w)
        .select("id", F.col("sel").alias("key"))
        .distinct()
    )
    # Recover (pos, gram) from the selected keys WITHOUT re-joining the
    # full keyed gram table (r13): `key` already encodes the position
    # (key % 2^POS_BITS) and the gram is substring(text, pos, k), so the
    # selected (small: ~selections per doc) rows join the |docs|-row
    # text table instead — the old back-join re-executed the whole
    # explode+md5 lineage a second time (keyed was un-checkpointed) and
    # shuffled |grams| rows to recover |selections| of them.
    texts = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__bt"))
    pos_back = F.pmod(F.col("key"), F.lit(1 << WINNOW_POS_BITS)).cast("int")
    return (
        selected.join(texts, "id")
        .select(
            "id",
            F.expr(f"key div {1 << WINNOW_POS_BITS}").alias("gram_hash"),
            pos_back.alias("pos"),
            F.expr(
                f"substring(__bt, cast(pmod(key, {1 << WINNOW_POS_BITS}) as int), {k})"
            ).alias("gram"),
        )
    )


def winnow_match_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    hot_cap: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document substring-duplication pairs from winnowing
    fingerprints: (doc_a, doc_b, shared) where ``shared`` counts the
    DISTINCT selected grams both documents picked (gram string
    equality, so hash collisions cannot fabricate a match). By the
    winnowing guarantee, any copied substring of length >= w + k - 1
    contributes at least one shared selected gram.

    ``hot_cap`` drops grams selected by more than that many documents
    BEFORE the join — the minhash_hot_buckets convention: a stop-gram
    ("   the  ", boilerplate headers) would otherwise make the join
    key quadratic at corpus scale. Documented recall trade, replicated
    exactly in the oracle. Scale shape: distinct (id, gram) rows
    shuffle on the gram, the hot-gram prune is one count aggregate,
    pair counting is one groupBy — no text payload wider than k chars
    ever moves."""
    fp = winnow_fingerprints(docs, k, w, text_col, id_col)
    # (id, gram) feeds THREE branches (hot-gram aggregate + both join
    # sides): materialize so the explode/window/selection chain runs
    # once (the ids.py double-compute rule); skinny k-char rows only
    sel = fp.select("id", "gram").distinct().localCheckpoint(eager=True)
    hot = (
        sel.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > hot_cap)
        .select("gram")
    )
    kept = sel.join(hot, "gram", "left_anti")
    a = kept.select(F.col("id").alias("doc_a"), "gram")
    b = kept.select(F.col("id").alias("doc_b"), "gram")
    return (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def cdc_chunks(
    docs: DataFrame,
    k: int = 8,
    mask_bits: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS boundary idea —
    Muthitacharoen et al. SOSP'01, public; FastCDC is the same rule
    with skip heuristics): a chunk boundary falls after every position
    whose trailing k-gram hashes to 0 mod 2^mask_bits, so boundaries
    move WITH the content — an insertion early in a document shifts
    every byte offset but re-aligns every later chunk, which is what
    makes chunk digests dedupe across near-identical documents where
    fixed-size blocks cannot. Expected chunk length = 2^mask_bits.

    Variant note: no min/max chunk clamps — FastCDC's skip logic is a
    sequential scan-state rule that cannot be replayed as window SQL;
    the pure boundary rule is deterministic, oracle-replayable, and
    the distribution is geometric around the target size (documented
    trade). Hash = md5 prefix (the dedup.py convention).

    Returns (id, start, end, chunk_len, digest). Scale shape: k-char
    gram rows explode skinny, boundary selection is a codegen filter,
    span assembly is one per-DOC lag window, and the text payload is
    re-joined ONCE per document (spans grouped first) with digests
    projected in the same stage — only digests shuffle afterwards.
    """
    if k < 1 or mask_bits < 1:
        raise ValueError(f"need k >= 1 and mask_bits >= 1: got {k}, {mask_bits}")
    mask = 1 << mask_bits
    # same single-file-input hazard as winnow_fingerprints: spread the
    # docs before the per-char gram explode (no-op if already spread)
    docs = _spread_docs(docs)
    n_grams = F.length(F.col(text_col)) - F.lit(k - 1)
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(0))),
                lambda p: F.substr(F.col(text_col), p, F.lit(k)),
            )
        ).alias("pos0", "gram"),
    ).select("id", (F.col("pos0") + F.lit(k)).alias("p"), "gram")
    h = F.conv(F.substring(F.md5(F.col("gram").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )
    content_bnd = grams.filter((h % F.lit(mask)) == 0).select("id", "p")
    doc_end = docs.filter(F.length(text_col) > 0).select(
        F.col(id_col).alias("id"), F.length(text_col).cast("long").alias("p")
    )
    bnd = content_bnd.unionByName(doc_end).distinct()
    w = Window.partitionBy("id").orderBy("p")
    spans = bnd.select(
        "id",
        (F.coalesce(F.lag("p").over(w), F.lit(0)) + 1).alias("s"),
        F.col("p").alias("e"),
    ).filter(F.col("e") >= F.col("s"))
    per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("s", "e")).alias("spans")
    )
    joined = per_doc.join(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")), "id"
    )
    return joined.select(
        "id",
        F.explode("spans").alias("sp"),
        F.col("__t"),
    ).select(
        "id",
        F.col("sp.s").alias("start"),
        F.col("sp.e").alias("end"),
        (F.col("sp.e") - F.col("sp.s") + 1).alias("chunk_len"),
        F.md5(
            F.substr(F.col("__t"), F.col("sp.s"), F.col("sp.e") - F.col("sp.s") + 1)
            .cast("binary")
        ).alias("digest"),
    )
