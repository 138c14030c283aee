"""Physical-plan introspection helpers: the tooling behind the
"explain and iterate" discipline — pushed filters, join strategies,
exchange counts — used by tests/test_plans.py to pin the plan shapes
that matter at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters bodies, one string per scan (filters like
    ``In(col, [a,b])`` contain nested brackets/commas, so no splitting)."""
    return [
        m.group(1).strip()
        for m in re.finditer(r"PushedFilters: \[(.*)\]", plan_string(df))
        if m.group(1).strip()
    ]


def read_schemas(df: DataFrame) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", plan_string(df))


def node_count(df: DataFrame, node: str) -> int:
    return len(re.findall(rf"\b{re.escape(node)}\b", plan_string(df, "simple")))


def has_node(df: DataFrame, node: str) -> bool:
    return node_count(df, node) > 0


def exchange_count(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (broadcast exchanges excluded)."""
    simple = plan_string(df, "simple")
    return len(re.findall(r"\bExchange (?!SinglePartition)", simple)) - len(
        re.findall(r"\bBroadcastExchange\b", simple)
    )


def _top_level_bracket_groups(s: str) -> list[str]:
    """Split ``[a, [b]], [c]`` into top-level ``[...]`` groups."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start : i + 1])
    return groups


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """Window nodes with no PARTITION BY — every input row funnels into
    a single WindowExec partition (Spark logs "No Partition Defined for
    Window operation"), the classic 100 TB scale-killer.

    A partitioned Window prints three top-level bracket groups
    ``[functions], [partition spec], [order spec]`` — but TreeNode's
    argString DROPS empty Seq arguments, so a partitioned window with
    no ORDER BY prints two groups and an unpartitioned-unordered one
    prints one. The groups are disambiguated by content: a SortOrder
    spec always prints a direction (`` ASC``/`` DESC``), a partition
    spec never does. Flag when no partition group survives:
    fewer than three groups AND every group past the functions group
    carries sort directions. (WindowGroupLimit nodes are skipped — they
    use a different argument shape and always mirror their parent
    Window.)"""

    def _is_order_spec(group: str) -> bool:
        return " ASC" in group or " DESC" in group

    out = []
    for line in plan_string(df, "simple").splitlines():
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        groups = _top_level_bracket_groups(m.group(1))
        if len(groups) >= 3:
            continue  # functions + partition + order
        # groups[0] is the window-function list; any remaining group is
        # either the partition spec (ok) or the order spec (flag).
        if any(not _is_order_spec(g) for g in groups[1:]):
            continue  # a partition spec survived — partitioned window
        out.append(line.strip())
    return out
