"""Pruning guard: an operation fails when the plan Spark executed lacks
the work the operation is meant to time.

Catalyst drops whatever a sink does not consume. Timing a flatten with
``.count()`` measures a plan without the temporal join and without any
aggregate (see the README), so every timed operation here consumes all
of its output columns, and this guard proves it from the executed plan.
"""

from __future__ import annotations

import re

from .spark_status import Execution

JOIN = r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
AGGREGATE = r"(HashAggregate|SortAggregate|ObjectHashAggregate)"
_SECTION = re.compile(r"^\((\d+)\) ([A-Za-z]+)", re.M)


def executed_ids(plan: str) -> set[int]:
    """Operator ids in the plan tree that ran: under adaptive execution
    the tree also lists each ``== Initial Plan ==``, which is skipped."""
    tree = plan.split("\n\n(", 1)[0]
    ids: set[int] = set()
    skip_below = None
    for line in tree.splitlines():
        # depth = column of the line's own "+-" (":" marks an ancestor's bar)
        indent = len(line) - len(line.lstrip(" :"))
        body = line.lstrip(" :+-")
        if skip_below is not None:
            if indent > skip_below:
                continue
            skip_below = None
        if body.startswith("== Initial Plan =="):
            skip_below = indent
            continue
        ids.update(int(x) for x in re.findall(r"\((\d+)\)", body))
    return ids


def plan_sections(plan: str) -> list[tuple[str, str]]:
    """(operator name, detail text) for each numbered section of a
    ``formatted`` physical plan whose operator ran."""
    ran = executed_ids(plan)
    starts = list(_SECTION.finditer(plan))
    out = []
    for i, m in enumerate(starts):
        if int(m.group(1)) not in ran:
            continue
        end = starts[i + 1].start() if i + 1 < len(starts) else len(plan)
        out.append((m.group(2), plan[m.start() : end]))
    return out


def count_sections(execs: list[Execution], name_pattern: str, mentions: str | None = None) -> int:
    n = 0
    for e in execs:
        for name, text in plan_sections(e.plan):
            if re.fullmatch(name_pattern, name) and (mentions is None or mentions in text):
                n += 1
    return n


_FUNCTIONS = re.compile(r"^Functions \[(\d+)\]", re.M)


def aggregate_functions(execs: list[Execution]) -> int:
    """Aggregate function instances (partial and final) that the
    executed aggregate operators evaluate."""
    return sum(
        int(m.group(1))
        for e in execs
        for name, text in plan_sections(e.plan)
        if re.fullmatch(AGGREGATE, name)
        for m in _FUNCTIONS.finditer(text)
    )


#: (operator pattern, column the operator must touch or None, minimum
#: count) that each operation kind's executed plans must contain
REQUIRED: dict[str, list[tuple[str, str | None, int]]] = {
    # one range join + one fused aggregation per temporal frame: the two
    # value frames and the outcome events
    "flatten": [(JOIN, "__value_entity_id", 3), (AGGREGATE, "__td_micros", 3)],
    "points_query": [("Window", None, 1), ("Generate", None, 1)],
    "window_query": [("Generate", "__window_end", 1), (AGGREGATE, "__window_end", 1)],
    "chunk_query": [("MapInPandas", None, 1)],
    "merge": [(AGGREGATE, "bucket_start", 1), ("MapInPandas", None, 1)],
}


def check(kind: str, execs: list[Execution]) -> list[str]:
    errors = []
    for pattern, mentions, minimum in REQUIRED.get(kind, []):
        got = count_sections(execs, pattern, mentions)
        if got < minimum:
            what = f"{pattern}" + (f" over {mentions}" if mentions else "")
            errors.append(f"pruning guard: executed plans of {kind} hold {got} x {what}, need {minimum}")
    return errors
