"""Iterative numerical graph algorithms, hash-gate deterministic.

PageRank's float arithmetic is engine- and order-dependent (per-node
sums of double contributions), so a naive port can never pass a
value-hash oracle. This implementation runs in FIXED-POINT integer
arithmetic: ranks are BIGINTs scaled by 1e12, every operation is
integer multiply / floor-divide / sum — exact, order-independent, and
bit-identical in any engine. The truncation error per operation is
< 1e-12 of total mass, far below the algorithm's own convergence
tolerance; dangling-node mass is dropped (the standard simplification).

Scale shape per iteration: one join (edges ⋈ ranks, both keyed by the
node id — co-partitionable), one groupBy(dst) with map-side partial
SUM, one left join back to the node list. State is (id, rank) pairs —
16 bytes per node per iteration, same as connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_db_spark.operators.rounds import checkpoint_round, fixpoint

PR_SCALE = 10**12


def pagerank_fixedpoint(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int | None = 5,
    damping_pct: int = 85,
    max_iterations: int = 400,
) -> DataFrame:
    """(id, rank_fp) after ``iterations`` rounds; rank_fp is the rank
    scaled by PR_SCALE. A fixed iteration count keeps the plan static
    and the oracle expressible as K chained CTEs — that form stays the
    g13 contract (both engines run the same fixed-round algorithm, so
    parity is exact regardless of convergence).

    ``iterations=None`` iterates until a round changes NO node's rank —
    an EXACT fixpoint, which integer arithmetic makes well-defined:
    once every per-node update lands on the same BIGINT, all later
    rounds are the identity. Each round's probe counts the changed
    (id, rank) pairs. Deltas shrink ~0.85x per round, so the fixpoint
    lands around log(base)/log(1/0.85) ≈ 110-170 rounds at
    PR_SCALE=1e12; ``max_iterations`` raises rather than spin if the
    integer dynamics ever enter a >1-cycle instead of a fixpoint.
    """
    if iterations is None and max_iterations < 1:
        raise ValueError(f"need max_iterations >= 1: got {max_iterations}")
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # `ed` rides inside the first job that consumes it; the node count
    # is the job that materializes `nodes`
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    nodes, row = checkpoint_round(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct(),
        lambda d: d.agg(F.count(F.lit(1))),
    )
    n = row[0]
    if n == 0:
        return nodes.select("id", F.lit(0).cast("long").alias("rank_fp"))
    base = PR_SCALE // n
    teleport = (base * (100 - damping_pct)) // 100

    def step(ranks, _n):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["id"])
            .select("dst", F.expr("r div d").alias("c"))
        )
        in_sum = contrib.groupBy(F.col("dst").alias("nid")).agg(
            F.sum("c").alias("s")
        )
        new_ranks = nodes.join(in_sum, nodes["id"] == F.col("nid"), "left").select(
            "id",
            (
                F.lit(teleport)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("r"),
        )
        if iterations is not None:
            # fixed rounds: no probe — the final action materializes the
            # (plan-truncated) chain in one job
            return checkpoint_round(new_ranks)[0], False
        new_ranks, row = checkpoint_round(
            new_ranks,
            lambda d: d.withColumnsRenamed({"id": "nid2", "r": "r2"})
            .join(ranks, F.col("nid2") == ranks["id"])
            .filter(F.col("r2") != F.col("r"))
            .agg(F.count(F.lit(1))),
        )
        return new_ranks, row[0] == 0

    ranks = nodes.withColumn("r", F.lit(base).cast("long"))
    if iterations is not None:
        ranks = fixpoint(step, ranks, iterations)
    else:
        ranks = fixpoint(
            step, ranks, max_iterations,
            limit_error=ValueError(
                f"PageRank not at a fixpoint after {max_iterations} rounds "
                "— raise max_iterations or use a fixed iteration count"
            ),
        )
    return ranks.select("id", F.col("r").alias("rank_fp"))


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 5,
    damping_pct: int = 85,
) -> str:
    """DuckDB twin: the same integer arithmetic as K chained CTEs.
    ``edges_sql`` must select columns (src, dst)."""
    d = damping_pct
    parts = [
        f"e AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e)",
        "deg AS (SELECT src, count(*) AS dg FROM e GROUP BY src)",
        f"cn AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT id, CAST({PR_SCALE} // n AS BIGINT) AS r FROM nodes, cn)",
    ]
    for i in range(iterations):
        parts.append(
            f"""r{i + 1} AS (
  SELECT nodes.id,
         CAST(({PR_SCALE} // cn.n) * {100 - d} // 100
              + {d} * coalesce(s.insum, 0) // 100 AS BIGINT) AS r
  FROM nodes CROSS JOIN cn
  LEFT JOIN (
    SELECT e.dst AS id, SUM(r{i}.r // deg.dg) AS insum
    FROM e JOIN r{i} ON e.src = r{i}.id JOIN deg ON e.src = deg.src
    GROUP BY e.dst
  ) s ON nodes.id = s.id
)"""
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, r AS rank_fp FROM r{iterations}"
    )


def triangle_count(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global triangle count via the degree-ordered node-iterator
    ("compact-forward", Latapy 2008 — public algorithm). Returns a
    single-row DataFrame ``(n_triangles BIGINT)``.

    Every undirected edge is oriented from the endpoint with the lower
    (degree, id) to the higher, which bounds each node's out-degree by
    O(sqrt(m)); wedges are then pairs of out-edges from a common node and
    a triangle is a wedge whose closing pair is itself an oriented edge.

    Scale shape: one shuffle to dedup the edge set, one to compute
    degrees, one groupBy to build per-node OUT-adjacency arrays (bounded
    at O(sqrt(m)) elements by the orientation — no hub explosion), then
    each oriented edge (u, v) counts |out(u) ∩ out(v)| via a JVM-native
    ``array_intersect``. Wedges are never materialized or shuffled: the
    O(m·sqrt(m)) intersection work happens inside the map stage, and the
    only wide exchanges carry (node, array) rows whose size the
    orientation bounds. No driver-side state.
    """
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("dg"))
    )
    ed = (
        e.join(deg.withColumnsRenamed({"id": "u", "dg": "du"}), "u")
        .join(deg.withColumnsRenamed({"id": "v", "dg": "dv"}), "v")
    )
    fwd = F.struct("du", "u") < F.struct("dv", "v")
    oriented = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # checkpoint the ADJACENCY table and recover everything below from
    # it: `oriented` would otherwise feed three plan branches (the
    # wedge stream plus both adjacency joins) and re-run the whole
    # edges+degrees+orientation chain per branch, while checkpointing
    # `oriented` itself measured slower (the stats loss demotes the
    # duplicated subtrees' broadcasts). From adj, each oriented edge is
    # recovered by EXPLODING its own nbrs array, so only the dst-side
    # adjacency lookup remains a join — node-scale x node-scale with
    # sqrt(m)-bounded arrays, never a legitimate broadcast at scale.
    adj = (
        oriented.groupBy("src")
        .agg(F.collect_list("dst").alias("nbrs"))
        .localCheckpoint(eager=True)
    )
    # each triangle {a,b,c} ordered a<b<c by (deg,id) is counted exactly
    # once, at its (a,b) edge: c is the common out-neighbor.
    # inner join: an endpoint absent from adj has no out-edges, so the
    # intersection would be empty anyway — dropping the row changes nothing.
    wedge = adj.select(
        F.col("nbrs").alias("nu"), F.explode("nbrs").alias("dst")
    )
    closed = wedge.join(
        adj.select(F.col("src").alias("_jv"), F.col("nbrs").alias("nv")),
        F.col("dst") == F.col("_jv"),
    ).select(F.size(F.array_intersect("nu", "nv")).alias("t"))
    return closed.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles")
    )


def sssp_bellman_ford(
    edges: DataFrame,
    source: int,
    src_col: str = "a",
    dst_col: str = "b",
    weight_col: str = "w",
    rounds: int | None = 6,
    max_rounds: int | None = None,
) -> DataFrame:
    """Single-source shortest paths by synchronous Bellman-Ford
    relaxations over an UNDIRECTED weighted graph (edges are
    symmetrized here). Returns (node, dist) for every reached node.

    ``rounds=None`` relaxes TO THE FIXPOINT: the loop stops when a
    round improves NO node — exact by monotonicity (each node's dist
    only ever decreases under min over integer weights), guaranteed
    within |V| rounds on positive weights. A fixed ``rounds=K`` is the
    chained-CTE-oracle convention; with K < the graph's weighted-hop
    radius that result is a round-bounded approximation, NOT the
    shortest path.

    ``max_rounds`` (converge mode only) raises if any round BEYOND it
    still improves a node — for callers whose correctness oracle is a
    fixed chained-CTE relaxation of that depth: a graph whose radius
    outgrows the oracle then fails LOUDLY instead of surfacing as a
    silent value mismatch.

    Scale shape (delta Bellman-Ford): only nodes improved in the
    previous round can improve a neighbor, so each round joins the
    shrinking frontier — not the whole dist table — against the edge
    list, takes a min-aggregate, and anti-join-merges the improvements
    back; late rounds touch a handful of nodes instead of the full
    reachable set. The frontier count is the round's one job
    (operators/rounds.py). Fixed-round results equal the dense form's
    because non-improved sources can never re-improve a neighbor."""
    sym = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v"), F.col(weight_col).alias("w")
    ).unionByName(
        edges.select(
            F.col(dst_col).alias("u"), F.col(src_col).alias("v"), F.col(weight_col).alias("w")
        )
    ).localCheckpoint(eager=False)
    dist = sym.sparkSession.createDataFrame(
        [(int(source), 0)], "node long, dist long"
    )

    def step(state, _n):
        dist, frontier = state
        relaxed = frontier.join(sym, frontier["node"] == sym["u"]).select(
            F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("cand")
        )
        best = relaxed.groupBy("node").agg(F.min("cand").alias("cand"))
        # the round's one job: counting the frontier evaluates the relax
        # + min-aggregate + improvement filter, and materializes last
        # round's lazy dist merge (and sym on round 1) in the same pass
        improved, row = checkpoint_round(
            best.join(dist.withColumnsRenamed({"dist": "old", "node": "onode"}),
                      best["node"] == F.col("onode"), "left")
            .filter(F.col("old").isNull() | (F.col("cand") < F.col("old")))
            .select("node", F.col("cand").alias("dist")),
            lambda d: d.agg(F.count(F.lit(1))),
        )
        if row[0] == 0:
            # no improvement anywhere: the fixpoint, and in fixed-round
            # mode every remaining round is the identity
            return state, True
        dist, _ = checkpoint_round(
            dist.join(improved.select(F.col("node").alias("inode")),
                      dist["node"] == F.col("inode"), "left_anti")
            .unionByName(improved)
        )
        return (dist, improved), False

    if rounds is not None:
        return fixpoint(step, (dist, dist), rounds)[0]
    # round max_rounds + 1 may still run, but only to find no improvement
    limit = None if max_rounds is None else max_rounds + 1
    return fixpoint(
        step, (dist, dist), limit,
        limit_error=ValueError(
            f"SSSP still improving at round {limit} but the caller's "
            f"fixed-depth oracle only relaxes {max_rounds} rounds — "
            "deepen the oracle (the weighted-hop radius outgrew it)"
        ),
    )[0]


def kcore_peel(
    edges: DataFrame,
    k: int,
    src_col: str = "a",
    dst_col: str = "b",
    rounds: int | None = 4,
) -> DataFrame:
    """k-core peeling (Seidman 1983 "Network structure and minimum
    degree" — public): synchronous rounds of dropping every node whose
    degree in the SURVIVING subgraph is < k. Returns (node, degree) for
    nodes alive after the last peel, with their degree in the surviving
    subgraph.

    ``rounds=None`` peels TO THE FIXPOINT — the exact k-core (maximal
    subgraph of min-degree >= k): each round's probe counts
    (nodes-in-graph, nodes-with-deg>=k); when they are equal the next
    peel is the identity and the loop stops before it. A fixed
    ``rounds=K`` is the chained-CTE-oracle convention; with K < the
    peel depth that result is NOT the k-core.

    Scale shape: each round = one degree aggregate over the surviving
    symmetric edge list + one semi-join filter of edges against
    surviving nodes — both keyed on the node, riding one exchange; the
    edge list is checkpointed per round through operators/rounds.py
    (lineage O(1); in converge mode the convergence scalar is the job
    that materializes it). Monotone: the surviving set only shrinks,
    so per-round cost falls.
    """
    if k < 1 or (rounds is not None and rounds < 1):
        raise ValueError(f"need k >= 1 and rounds >= 1: got k={k}, rounds={rounds}")

    def degrees(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    # converge mode probes each round's peeled edge list: (nodes in the
    # graph, nodes with deg >= k); equal means the next peel is the
    # identity, so the loop stops before it
    probe = None if rounds is not None else (
        lambda s: degrees(s).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("deg") >= k).cast("long")).alias("a"),
        )
    )

    def peel(state, _n):
        sym, row = state
        if row is not None and row["n"] == (row["a"] or 0):
            return state, True
        alive = degrees(sym).filter(F.col("deg") >= k).select("u")
        return checkpoint_round(
            sym.join(alive, "u")
            .join(alive.withColumnsRenamed({"u": "v"}), "v")
            .select("u", "v"),
            probe,
        ), False

    sym = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")).unionByName(
        edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
    )
    sym, _ = fixpoint(peel, checkpoint_round(sym, probe), rounds)
    return degrees(sym).select(F.col("u").alias("node"), F.col("deg").alias("degree"))
