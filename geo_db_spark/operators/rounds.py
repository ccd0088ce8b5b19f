"""One materialization rule for iterative operators, and one loop driver.

A driver-side loop keeps ONE Spark job per round and O(1) lineage by
marking each round's frame for a LAZY local checkpoint and letting the
round's one driver probe (a convergence scalar, a frontier count) be
the job that materializes it; an eager checkpoint plus a probe pays two
jobs and re-scans the cache. A lazy mark still runs the frame's
EXCHANGE stages at mark time (AQE builds its final plan when the
checkpoint RDD is created); only the result stage waits for the first
consuming job.
"""

from __future__ import annotations

import itertools
from typing import Any, Callable

from pyspark.sql import DataFrame, Row


def checkpoint_round(
    df: DataFrame, probe: Callable[[DataFrame], DataFrame] | None = None
) -> tuple[DataFrame, Row | None]:
    """Mark ``df`` for a lazy local checkpoint and run ``probe`` (marked
    frame -> one-row aggregate) as the job that materializes it. Returns
    ``(marked, row)``; without a probe ``row`` is None and the frame's
    first consumer materializes it."""
    df = df.localCheckpoint(eager=False)
    return df, (None if probe is None else probe(df).collect()[0])


def fixpoint(
    step: Callable[[Any, int], tuple[Any, bool]],
    state: Any,
    max_rounds: int | None,
    limit_error: Exception | None = None,
) -> Any:
    """Run ``state, done = step(state, n)`` for rounds n = 1, 2, ... and
    return the state of the first round that reports ``done``. The
    check comes before the limit, so converging in round ``max_rounds``
    returns. If that round is not done: raise ``limit_error``, or
    return its state when there is none (fixed-round loops).
    ``max_rounds=None`` is unbounded, for loops that must terminate."""
    rounds = itertools.count(1) if max_rounds is None else range(1, max_rounds + 1)
    for n in rounds:
        state, done = step(state, n)
        if done:
            return state
    if limit_error is not None:
        raise limit_error
    return state
