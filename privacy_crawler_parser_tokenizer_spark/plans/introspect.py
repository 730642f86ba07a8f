"""Physical-plan introspection: the \"is this the plan I'd want at
100 TB\" checks, asserted in tests/test_plan_quality.py.

Catalyst gives pushdown/pruning/broadcast for free only if the query is
expressed declaratively (SURVEY.md §4); these helpers make that a
regression-tested property instead of a hope:

  * predicate pushdown  -> ``PushedFilters: [...]`` on the parquet scan
  * column pruning      -> ``ReadSchema`` contains only needed columns
  * broadcast joins     -> ``BroadcastHashJoin`` for dim-table joins
  * partial aggregation -> two ``HashAggregate`` nodes per groupBy
  * shuffle budget      -> ``Exchange`` count bounded per query
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    try:
        jmode = (
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )
        return df._jdf.queryExecution().explainString(jmode)
    except Exception:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def n_exchanges(plan: str) -> int:
    """Shuffle count (AQE reuse excluded)."""
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "Reused" not in line and "BroadcastExchange" not in line
    )


def has_broadcast_join(plan: str) -> bool:
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def pushed_filters(plan: str) -> list[str]:
    out = []
    for line in plan.splitlines():
        if "PushedFilters:" in line:
            body = line.split("PushedFilters:", 1)[1].strip()
            if body not in ("[]",):
                out.append(body)
    return out


def read_schemas(plan: str) -> list[str]:
    return [
        line.split("ReadSchema:", 1)[1].strip()
        for line in plan.splitlines()
        if "ReadSchema:" in line
    ]


def has_partial_aggregation(plan: str) -> bool:
    """Map-side combine: >=2 HashAggregate/ObjectHashAggregate nodes."""
    n = sum(
        1 for line in plan.splitlines()
        if "HashAggregate" in line or "SortAggregate" in line
    )
    return n >= 2


def n_windows(plan: str) -> int:
    """Window operator count in a formatted plan (each sort-based
    per-partition operator prints one ``(N) Window`` detail header).
    WindowGroupLimit nodes are NOT counted — they are the map-side
    top-k optimization, not a full-partition sort."""
    import re

    return len(re.findall(r"\(\d+\) Window\b", plan))


def n_window_group_limits(plan: str) -> int:
    """WindowGroupLimit count: rank-filter pushdown (a partial node
    before the exchange + a final one after = map-side per-group
    top-k, the skew defense for rank()-style dequeues)."""
    import re

    return len(re.findall(r"\(\d+\) WindowGroupLimit", plan))


def generate_inputs(plan: str) -> list[str]:
    """The ``Input [...]`` attribute list of every Generate node.

    Whatever appears here is carried through (and any expression of it
    re-evaluated above) the explode — once per *output* row.  A wide
    column like the full document text in a Generate input is the
    plan-shape signature of the per-exploded-row recompute trap:
    expressions must be projected to attributes BELOW the Generate."""
    import re

    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if re.search(r"\(\d+\) Generate\b", line):
            for j in range(i + 1, min(i + 4, len(lines))):
                if lines[j].startswith("Input"):
                    out.append(lines[j].split(":", 1)[1].strip())
                    break
    return out


def codegen_stage_count(plan: str) -> int:
    """Distinct whole-stage-codegen stages (formatted mode annotates
    nodes with ``[codegen id : N]``; simple mode prints
    ``WholeStageCodegen (N)``)."""
    import re

    ids = set(re.findall(r"codegen id : (\d+)", plan))
    ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(ids)


def plan_nodes(plan: str) -> list[tuple[str, str]]:
    """``(name, detail)`` of every node in a formatted plan's detail
    section (``(N) Name`` header, then its Input/Arguments/... lines)."""
    import re

    out = []
    for block in re.split(r"\n(?=\(\d+\) )", plan)[1:]:
        header, _, detail = block.partition("\n")
        out.append((re.match(r"\(\d+\) (\S+)", header).group(1), detail))
    return out


def python_nodes(plan: str) -> list[str]:
    """Detail text of every node that runs Python workers (expression
    UDFs, map/grouped-map pandas and Arrow functions)."""
    import re

    return [d for n, d in plan_nodes(plan)
            if re.search(r"Python|InPandas|InArrow", n)]
