"""Transitive closure over an edge DataFrame.

Replaces the reference's SQLite recursive CTE
(src/post/find_subdivision.sql:12-22, per_city.sql:6-19; SURVEY.md §2 D3),
run set-based over ALL seeds at once instead of once per city
(the reference drives it row-at-a-time, src/post/mod.rs:96-107 — the
single biggest algorithmic win of the Spark rewrite, SURVEY.md §4).

Two implementations:

- ``transitive_closure`` (default): Spark's native recursive CTE
  (Spark >= 4.0, UNION ALL semantics) — ONE declarative plan, the engine
  manages the iteration; exactly the reference's CTE including the
  `step < max_steps` bound and all-paths multiplicity on diamond DAGs.
- ``transitive_closure_loop``: driver-side iterative join with per-level
  dedup and first-visit (min-step) semantics. Use for engines without
  recursive CTEs, or when cycle-heavy data makes all-paths enumeration
  explode before the step bound (the loop's visited-set makes each node
  expand at most once per seed). Its rounds run through
  operators/rounds.py, one job per level.

Scale notes: the edge table of a real hierarchy (WikiData admin tree,
~1e6 edges) is broadcast-small next to the seed set; with broadcast edges
each CTE iteration is shuffle-free on the frontier side (the loop leaves
the join strategy to AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_db_spark.operators.rounds import checkpoint_round, fixpoint

# the loop's accumulated result is checkpointed every this many steps,
# so its union chain never re-derives more than a few levels
_RESULT_CHECKPOINT_EVERY = 4


def transitive_closure(
    edges: DataFrame,
    seeds: DataFrame,
    max_steps: int = 100,
    child_col: str = "id",
    parent_col: str = "parent",
    seed_col: str = "id",
    broadcast_edges: bool = False,
) -> DataFrame:
    """All (seed, id, step) rows reachable via parent edges; step=0 is the
    seed itself (matching the reference CTE seed row,
    find_subdivision.sql:13). UNION ALL semantics: one row per path, as in
    the reference.

    ``broadcast_edges`` hints BROADCAST on the edge side of the
    recursive join, making every recursion level shuffle-free on the
    frontier (~20% wall at sf0.1). It is OFF by default because the
    hint is forced, not advisory: enable it only when the edge table is
    KNOWN bounded (the WikiData admin tree is ~1e6 edges ~ tens of MB —
    plans/geo_post.py turns it on); an edge set derived from a
    fact-scale table must stay on AQE's runtime decision."""
    hint = "/*+ BROADCAST(e) */ " if broadcast_edges else ""
    spark = edges.sparkSession
    # The engine's recursion ROW limit defaults to 1e6 — a toy-scale
    # safeguard: a closure's output grows with the data (10x the seeds
    # tripped it, found by the r2 scale-envelope run). Depth is already
    # bounded by MAX RECURSION LEVEL / the step predicate, which is the
    # semantically meaningful guard, so lift the row cap out of the way.
    try:
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(2**31 - 1))
    except Exception:
        pass  # older builds without the conf
    # Give the anchor's seed/id DISTINCT attribute ids (two Aliases) —
    # `SELECT id, id, 0` duplicates one attribute reference, and the
    # loop's per-iteration LogicalRDD then logs "output columns differ
    # between logical and optimized plan" (benign but noisy; SCALE.md).
    anchor = seeds.select(
        F.col(seed_col).alias("seed"), F.col(seed_col).alias("id")
    )
    return spark.sql(
        f"""
        WITH RECURSIVE cl(seed, id, step) MAX RECURSION LEVEL {int(max_steps) + 2} AS (
            SELECT seed, id, 0 FROM {{seeds}}
            UNION ALL
            SELECT {hint}cl.seed, e.{parent_col}, cl.step + 1
            FROM cl JOIN {{edges}} e ON cl.id = e.{child_col}
            WHERE cl.step < {int(max_steps)}
        )
        SELECT seed, id, step FROM cl
        """,
        seeds=anchor,
        edges=edges,
    )


def transitive_closure_loop(
    edges: DataFrame,
    seeds: DataFrame,
    max_steps: int = 100,
    child_col: str = "id",
    parent_col: str = "parent",
    seed_col: str = "id",
) -> DataFrame:
    """Iterative-join closure with first-visit semantics: each (seed, id)
    is recorded at its minimal step and never re-expanded — terminates on
    cycles without enumerating paths. Deterministic, cycle-safe."""
    e = edges.select(F.col(child_col).alias("__c"), F.col(parent_col).alias("__p"))
    frontier = (
        seeds.select(F.col(seed_col).alias("seed")).distinct().withColumn("id", F.col("seed"))
    )
    result = frontier.withColumn("step", F.lit(0)).localCheckpoint(eager=True)

    def step(state, n):
        frontier, result = state
        nxt, row = checkpoint_round(
            frontier.join(e, frontier["id"] == e["__c"], "inner")
            .select("seed", F.col("__p").alias("id"))
            .dropDuplicates(["seed", "id"])
            .join(result.select("seed", "id"), ["seed", "id"], "left_anti"),
            lambda d: d.agg(F.count(F.lit(1))),
        )
        if row[0] == 0:
            return state, True
        result = result.unionByName(nxt.withColumn("step", F.lit(n)))
        if n % _RESULT_CHECKPOINT_EVERY == 0:
            result = result.localCheckpoint(eager=True)
        return (nxt, result), False

    return fixpoint(step, (result.select("seed", "id"), result), max_steps)[1]


def transitive_closure_doubling(
    edges: DataFrame,
    seeds: DataFrame,
    max_steps: int = 100,
    child_col: str = "id",
    parent_col: str = "parent",
    seed_col: str = "id",
) -> DataFrame:
    """Closure by path doubling (pointer jumping): after round k the
    relation holds every (src, dst) within 2^k steps at its EXACT
    minimum distance, so a depth-D hierarchy saturates in ceil(log2 D)
    self-join rounds instead of D frontier joins — the win when the
    closure is iteration-LATENCY-bound (each recursive-CTE level is a
    full scheduled stage; real admin hierarchies are 10-20 deep).

    Semantics match ``transitive_closure_loop``: one row per reachable
    (seed, id) at min step, cycle-safe (min-step is a decreasing
    bounded fixpoint). Tradeoff vs the frontier loop: doubling squares
    the GLOBAL relation (|V| * avg-depth rows shuffle per round twice)
    where the seeded loop only moves frontiers — prefer the loop when
    seeds are a sliver of a huge graph, doubling when seeds are dense
    or the depth dominates. Fixpoint test: (count, sum(step)) — the
    pair set only grows and steps only shrink, so the signature is
    stable iff the relation is.
    """
    import math

    R = (
        edges.select(F.col(child_col).alias("src"), F.col(parent_col).alias("dst"))
        .distinct()
        .withColumn("step", F.lit(1))
        .localCheckpoint(eager=True)
    )

    def step(state, _n):
        R, prev = state
        a = R.select("src", F.col("dst").alias("mid"), F.col("step").alias("s1"))
        b = R.select(F.col("src").alias("mid"), "dst", F.col("step").alias("s2"))
        comp = (
            a.join(b, "mid")
            .select("src", "dst", (F.col("s1") + F.col("s2")).alias("step"))
            .filter(F.col("step") <= max_steps)
        )
        R, sig = checkpoint_round(
            R.unionByName(comp).groupBy("src", "dst").agg(F.min("step").alias("step")),
            lambda d: d.agg(F.count(F.lit(1)), F.sum("step")),
        )
        return (R, sig), sig == prev

    rounds = max(1, math.ceil(math.log2(max(2, int(max_steps)))) + 1)
    R, _ = fixpoint(step, (R, None), rounds)
    sd = seeds.select(F.col(seed_col).alias("seed")).distinct()
    anc = sd.join(R, sd["seed"] == R["src"]).select(
        "seed", F.col("dst").alias("id"), "step"
    )
    # a cycle through the seed yields (seed, seed, cycle_len) in R; the
    # step-0 seed row must win — min per (seed, id), like the loop
    return (
        sd.select("seed", F.col("seed").alias("id"), F.lit(0).alias("step"))
        .unionByName(anc)
        .groupBy("seed", "id")
        .agg(F.min("step").alias("step"))
    )


def deepest_qualifying_ancestor(
    closure: DataFrame,
    qualifying: DataFrame,
    qualify_col: str = "id",
    tiebreak_asc: str = "id",
) -> DataFrame:
    """From a closure, pick per seed the DEEPEST ancestor present in
    ``qualifying`` — the reference's 2nd-level-subdivision pick
    (src/post/find_subdivision.sql:8-35, ORDER BY step DESC LIMIT 1;
    SURVEY.md §2 D4). Ties at equal depth are resolved by ascending
    ``tiebreak_asc`` (documented divergence: SQLite picks arbitrarily).
    """
    from pyspark.sql import Window

    q = qualifying.select(F.col(qualify_col).alias("id"))
    cand = closure.join(F.broadcast(q), "id", "left_semi")
    w = Window.partitionBy("seed").orderBy(F.col("step").desc(), F.col(tiebreak_asc).asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
