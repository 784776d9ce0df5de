"""Plan audit: physical-plan characteristics of every registered query.

Writes a markdown table (stdout or PLANS.md) with, per query: join
strategies, exchange count, whether filters are pushed into the scan, and
the columns read — the properties that determine scale behavior.  Run after any
operator change; tests/test_plans.py pins the critical subset.

Usage:  python tools/plan_audit.py [sf_dir] [--write]
"""

from __future__ import annotations

import ast
import hashlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_REPO = Path(__file__).resolve().parent.parent
_PACKAGE = _REPO / "oltp_to_data_warehouse_pipeline_spark"


_DOCSTRING_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _code_dump(src: str) -> str:
    """``ast.dump`` of a module with every docstring removed: comments,
    docstrings and layout drop out, any change to the code itself does
    not."""
    tree = ast.parse(src)
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if (
            isinstance(node, _DOCSTRING_OWNERS)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            node.body = body[1:] or [ast.Pass()]
    return ast.dump(tree)


def source_fingerprint() -> str:
    """Stable hash of every .py file's code in the package, by relative path.

    Embedded in PLANS.md's header and re-derived by the freshness test
    (tests/test_plans.py), so a plan-affecting source change that isn't
    followed by a PLANS.md regeneration fails CI instead of shipping a
    stale plan audit (the round-4 hygiene miss).  A content hash is used
    rather than a git commit hash because PLANS.md is committed TOGETHER
    with the change it describes — a HEAD hash would always be one commit
    behind itself.  Each file is hashed as its docstring-free AST dump
    (:func:`_code_dump`), so comment- and docstring-only edits keep the
    fingerprint while every code edit changes it.  ``ast.dump``'s format
    follows the interpreter, so regenerate after a Python upgrade.
    """
    h = hashlib.sha256()
    for p in sorted(_PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(_REPO)).encode())
        h.update(b"\0")
        h.update(_code_dump(p.read_text()).encode())
    return h.hexdigest()[:16]


def recorded_fingerprint(plans_md: Path | None = None) -> str | None:
    """The fingerprint recorded in PLANS.md's header, or None if absent."""
    text = (plans_md or _REPO / "PLANS.md").read_text()
    m = re.search(r"Source fingerprint: `([0-9a-f]+)`", text)
    return m.group(1) if m else None


def audit(sf_dir: str = "/root/testdata/sf0.001") -> str:
    from oltp_to_data_warehouse_pipeline_spark.plans.queryset import registry
    from oltp_to_data_warehouse_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    lines = [
        "# Plan audit (generated by tools/plan_audit.py)",
        "",
        f"Source fingerprint: `{source_fingerprint()}` (sha256 over the "
        "docstring-free ASTs of the package's .py files; tests/test_plans.py "
        "fails when this no longer matches the working tree — regenerate with "
        "`python tools/plan_audit.py --write`).",
        "",
        f"Per-query physical plan characteristics at `{sf_dir}`.",
        "BHJ=BroadcastHashJoin SMJ=SortMergeJoin SHJ=ShuffledHashJoin "
        "BNLJ=BroadcastNestedLoopJoin Exch=Exchange (shuffle or broadcast).",
        "",
        "| query | BHJ | SMJ | SHJ | BNLJ | Exch | pushed filters | notes |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in sorted(queries):
        try:
            plan = queries[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 - audit must cover every query
            lines.append(f"| {name} | — | — | — | — | — | — | ERROR: {e} |")
            continue
        pushed = sorted(
            set(re.findall(r"PushedFilters: \[([^\]]+)\]", plan)) - {""}
        )
        pushed_s = "yes" if pushed else "—"
        notes = []
        if "CartesianProduct" in plan:
            notes.append("CARTESIAN")
        if "mapInPandas" in plan or "MapInPandas" in plan:
            notes.append("arrow-batch python")
        if "LocalTableScan" in plan:
            notes.append("local")
        lines.append(
            "| {} | {} | {} | {} | {} | {} | {} | {} |".format(
                name,
                plan.count("BroadcastHashJoin"),
                plan.count("SortMergeJoin"),
                plan.count("ShuffledHashJoin"),
                plan.count("BroadcastNestedLoopJoin"),
                plan.count("Exchange"),
                pushed_s,
                " ".join(notes),
            )
        )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    report = audit(args[0] if args else "/root/testdata/sf0.001")
    if "--write" in sys.argv:
        Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(report)
        print("wrote PLANS.md")
    else:
        print(report)
