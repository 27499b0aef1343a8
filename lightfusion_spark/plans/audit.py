"""Physical-plan auditing: assert that plans have the shape you'd want
at 100 TB, not just the first shape that passed.

The reference delegates all planning to DataFusion's defaults (reference
``src/lib.rs:106``); Spark delegates to Catalyst + AQE.  These helpers
make the *properties we rely on* checkable in tests and usable as a CLI
(``python -m lightfusion_spark.plans.audit <query> ...``):

* filters reach the parquet scan (``PushedFilters``);
* column pruning reaches the scan (``ReadSchema``);
* small dimensions broadcast instead of shuffling;
* JVM-only operators really contain no Python eval node;
* Python-UDF operators cross into Python exactly once.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (``df.explain`` without the print)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(plan: str) -> list[str]:
    """All parquet-pushed filter expressions in the plan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(plan: str) -> list[set[str]]:
    """Column sets read by each file scan (column pruning evidence)."""
    out: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        out.append({c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()})
    return out


def python_eval_nodes(plan: str) -> list[str]:
    """Python-crossing operators (one entry per physical node — matched on
    the ``(n) NodeName`` detail headers, not the tree rendering)."""
    return re.findall(
        r"^\(\d+\) (ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas)",
        plan,
        re.MULTILINE,
    )


def join_nodes(plan: str) -> list[str]:
    return re.findall(
        r"^\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
        re.MULTILINE,
    )


def codegen_stage_count(plan: str) -> int:
    """Distinct whole-stage-codegen units (formatted mode annotates nodes
    with ``[codegen id : N]``)."""
    return len(set(re.findall(r"codegen id : (\d+)", plan)))


def audit_report(df: DataFrame) -> dict:
    """Structured audit of one DataFrame's physical plan."""
    plan = formatted_plan(df)
    return {
        "pushed_filters": pushed_filters(plan),
        "read_schemas": [sorted(s) for s in read_schemas(plan)],
        "python_eval_nodes": python_eval_nodes(plan),
        "joins": join_nodes(plan),
        "codegen_stages": codegen_stage_count(plan),
    }


def main() -> None:  # pragma: no cover - CLI convenience
    import json
    import sys

    from ..session import start_spark

    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod

    spark = start_spark(4)
    sf_dir = "/root/testdata/sf0.001"
    names = sys.argv[1:] or list(entry_mod.queries())
    qs = entry_mod.queries()
    for name in names:
        print(name, json.dumps(audit_report(qs[name](spark, sf_dir)), indent=2))


if __name__ == "__main__":  # pragma: no cover
    main()
