"""Plan observability: extract the scale-relevant shape of a physical
plan as numbers — so tests can pin an EXCHANGE BUDGET per query instead
of grepping strings ad hoc. A new join or window that silently adds a
shuffle to a hot query is exactly the regression that only shows up at
100 TB; pinning the count catches it at sf0.001.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _own_plan(df: DataFrame) -> str:
    """One line per node of the plan ``df`` itself runs, as planned before
    execution: an adaptive plan contributes its initial plan, a cached
    relation its scan node only (its cached plan prints as it stands in
    the session cache, at indentations that do not nest)."""
    lines, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            todo.append(node.initialPlan())
            continue
        lines.append(node.simpleString(25))
        if node.nodeName() == "InMemoryTableScan":
            continue
        for kids in (node.children(), node.innerChildren()):  # innerChildren: subqueries
            it = kids.iterator()
            while it.hasNext():
                todo.append(it.next())
    return "\n".join(lines)


def plan_stats(df: DataFrame) -> dict:
    """Counts of the plan nodes that dominate cost at scale:

    - ``exchanges``: shuffle exchanges (NOT broadcast — those are the
      cheap kind when the side is small)
    - ``broadcasts``: broadcast exchanges
    - ``single_partition``: Exchange SinglePartition occurrences (the
      100 TB killer when fed by an unbounded input; final-aggregate
      single rows are fine — judge by the count you pin)
    - ``python_nodes``: Arrow/Python evaluation nodes (MapInPandas,
      ArrowEvalPython, FlatMapGroupsInPandas...) — the deliberate slow
      path; pin so one never sneaks into a JVM-only query
    - ``scans``: FileScan sources

    Counted over ``_own_plan``, so a query's row depends neither on what
    the session cached or ran before nor on whether the frame has run.
    """
    plan = _own_plan(df)
    return {
        "exchanges": len(re.findall(r"Exchange (?!SinglePartition)(?:hashpartitioning|rangepartitioning|RoundRobinPartitioning)", plan))
        + len(re.findall(r"Exchange SinglePartition", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "single_partition": plan.count("Exchange SinglePartition"),
        "python_nodes": sum(
            plan.count(n)
            for n in ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas", "BatchEvalPython")
        ),
        "scans": plan.count("FileScan"),
    }
