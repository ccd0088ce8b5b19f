"""Connected components over an undirected edge DataFrame.

The dedup pipeline's third act: near-dup PAIRS (minhash/ngram/embedding
passes, operators/dedup.py + similarity.py) are edges of a similarity
graph; the unit of deduplication is its connected COMPONENT (a re-posted
article chain A~B~C must collapse to one survivor even when A~C was
never emitted as a pair). Not in the reference (its dedup is PK-conflict
-ignore at the SQLite sink, src/database.rs:101-134); this is the
engine-growth path SURVEY.md §2's dedup block calls for.

Algorithm: min-label propagation with pointer jumping (path halving).
Each round every node takes the min label over {itself} ∪ neighbors,
then compresses one pointer hop (label <- label's label). Plain
propagation needs O(diameter) rounds — a 1M-doc boilerplate chain would
take 1M shuffles; the jump makes label trees halve each round, so
convergence is O(log diameter) rounds of pure equi-joins. Convergence
is detected by the (monotonically decreasing) SUM of labels going
stable — one cheap 1-row aggregate per round, no row-wise diff join;
the rounds run through operators/rounds.py.

All joins are hash equi-joins keyed on node id / label; nothing is ever
all-pairs, and per-round state is (id, label) pairs only — at 100 TB
the state is 16 bytes/node regardless of document size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_db_spark.operators.rounds import checkpoint_round, fixpoint


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """(id, cluster_id) for every node in ``edges``; cluster_id is the
    MINIMUM node id of the component — deterministic, oracle-checkable
    against a recursive-CTE reachability query.

    Nodes not present in any edge are absent (callers union singletons
    back if they need total coverage; see workload/dedup.dedup_clusters).
    """
    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    # Materialize the symmetric edge list FIRST and derive nodes,
    # self-loops and labels from its rows: built off the un-checkpointed
    # union, every later job would re-run the whole upstream pair
    # computation (for simjoin-fed CC that was +4.7 s of a 15.5 s wall
    # at sf0.1 — the pair join is far heavier than the edges it emits).
    sym0 = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=False)
    # self-loops fold the "own label" term into the neighbor-min groupBy,
    # so each round is ONE join + groupBy (propagate) + one join (jump)
    nodes = sym0.select(F.col("a").alias("id")).distinct()
    sym = (
        sym0.unionByName(nodes.select(F.col("id").alias("a"), F.col("id").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)  # edge list is iterated: materialize once
    )

    def step(state, n):
        labels, prev_sum = state
        if labels is None:
            # round 1 runs against IDENTITY labels (label == id), so the
            # label join would only rename a column
            stepped = sym.groupBy(F.col("b").alias("id")).agg(
                F.min("a").alias("label")
            )
        else:
            stepped = (
                sym.join(labels, sym["a"] == labels["id"])
                .groupBy(F.col("b").alias("id"))
                .agg(F.min("label").alias("label"))
            )
        # pointer jump: a label is itself a node id, so its own current
        # label exists in `stepped`; one extra hop halves label-tree
        # depth. (A second hop per round was measured NOT to reduce the
        # round count: rounds are bound by edge-propagation distance,
        # which only the groupBy advances.)
        hop = stepped.select(F.col("id").alias("jid"), F.col("label").alias("jl"))
        jumped = stepped.join(hop, stepped["label"] == hop["jid"], "left").select(
            "id", F.coalesce(F.col("jl"), F.col("label")).alias("label")
        )
        # labels only ever decrease, so an unchanged SUM means unchanged
        # labels. Round 1's probe also sums the ids — the identity
        # labels' sum — so an already-converged graph stops at round 1.
        aggs = [F.sum("label")] + ([F.sum("id")] if n == 1 else [])
        jumped, row = checkpoint_round(jumped, lambda d: d.agg(*aggs))
        if n == 1:
            prev_sum = row[1]
        return (jumped, row[0]), row[0] == prev_sum

    # silently returning non-minimal labels would be a wrong answer
    # that still LOOKS like clusters; with pointer jumping max_iters
    # rounds cover diameters ~2^max_iters, so hitting the limit means
    # the caller set max_iters far too low for the graph
    labels, _ = fixpoint(
        step, (None, None), max_iters,
        limit_error=RuntimeError(
            f"connected_components did not converge in {max_iters} rounds; "
            "raise max_iters (rounds needed ~ log2(graph diameter))"
        ),
    )
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))
