"""Physical-plan introspection helpers.

The 100-TB posture is only real if the plans prove it: filters reach
the parquet scan, small dims broadcast, narrow queries don't shuffle.
These helpers turn ``explain()`` output into assertable properties;
tests/test_plans.py pins them so a regression in plan shape fails CI,
not a production run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan."""
    return formatted_plan(df).count("Exchange hashpartitioning") + formatted_plan(
        df
    ).count("Exchange rangepartitioning")


def has_pushed_filters(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    idx = plan.find("PushedFilters: [")
    return idx >= 0 and not plan[idx:].startswith("PushedFilters: []")


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the first parquet scan's ReadSchema (pruning check)."""
    plan = formatted_plan(df)
    idx = plan.find("ReadSchema: struct<")
    if idx < 0:
        return []
    inner = plan[idx + len("ReadSchema: struct<"):plan.find(">", idx)]
    return [f.split(":")[0] for f in inner.split(",") if f]


_EXPR_ID = re.compile(r"#\d+L?")
_PLAN_ID = re.compile(r"plan_id=\d+")
_GID = re.compile(r"gid# = (\d+)")


def _split_top(s: str) -> list[str]:
    """``s`` split at its top-level commas (not inside () or [])."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def _sort_lists(s: str) -> str:
    """``s`` with the items of every () and [] group sorted, innermost first."""

    def group(i: int, close: str | None) -> tuple[str, int]:
        items, cur = [], ""
        while i < len(s):
            ch = s[i]
            if ch in "([":
                end = ")]"["([".index(ch)]
                inner, i = group(i + 1, end)
                cur += ch + inner + end
                continue
            i += 1
            if ch == close:
                return ", ".join(sorted(x.strip() for x in items + [cur])), i
            if ch == "," and close:
                items.append(cur)
                cur = ""
            else:
                cur += ch
        return ", ".join(items + [cur]), i

    return group(0, None)[0]


def _distinct_groups(line: str) -> tuple[str, dict[str, str]]:
    """An ``Expand`` line of a distinct-aggregate rewrite with each row's
    group id replaced by the name of the output column(s) that only that
    row fills, and the id -> name map."""
    head, _, body = line.partition("Expand ")
    rows_text, out_text = _split_top(body)[:2]
    rows = [_split_top(r.strip()[1:-1]) for r in _split_top(rows_text.strip()[1:-1])]
    out = _split_top(out_text.strip()[1:-1])
    names = {}
    for row in rows:
        own = [
            out[p] for p, v in enumerate(row[:-1])
            if v != "null" and any(other[p] != v for other in rows)
        ]
        names[row[-1]] = "|".join(own) or row[-1]
    rows_canon = ", ".join("[" + ", ".join(row[:-1] + [names[row[-1]]]) + "]" for row in rows)
    return f"{head}Expand [{rows_canon}], [{', '.join(out)}]", names


def canonical_plan(plan: str) -> str:
    """A plan string without what differs between two plannings of one
    logical plan: expression and exchange ids, and the numbering of a
    distinct-aggregate rewrite's groups.

    RewriteDistinctAggregates numbers its groups (``gid``) and orders
    their columns in a hash order of expressions that carry fresh ids,
    so one query's plan can come out permuted on every re-plan (q174
    gave 5 distinct strings in 8). On the lines that mention ``gid``,
    each group id is named by the column its ``Expand`` row fills, and
    every list is sorted."""
    plan = _PLAN_ID.sub("plan_id=", _EXPR_ID.sub("#", plan))
    if "gid#" not in plan:
        return plan
    lines = plan.splitlines()
    names: dict[str, str] = {}
    for i, line in enumerate(lines):
        if "Expand [" in line and "gid#" in line:
            lines[i], own = _distinct_groups(line)
            for gid, name in own.items():
                # Two rewrites in one plan may reuse an id for different groups.
                names[gid] = name if names.get(gid, name) == name else "?"

    def rename(m: re.Match) -> str:
        return "gid# = " + names.get(m.group(1), m.group(1))

    return "\n".join(
        _sort_lists(_GID.sub(rename, line)) if "gid#" in line else line for line in lines
    )

