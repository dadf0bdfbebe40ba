"""Each shared mechanism has exactly one implementation in the package:
the memory-sink finite replay lives only in streaming/replay.py and
the atomic JSON rename only in storage/manifest.py. A second copy
would drift from the first (sink options, commit ordering) without
any test noticing. And every package function is reached by something
other than the tests, or is kept for a stated reason."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "mapreduce_distributed_systems_spark"


def _sites(needle: str) -> list[str]:
    return [
        path.relative_to(PKG).as_posix()
        for path in sorted(PKG.rglob("*.py"))
        for line in path.read_text().splitlines()
        if needle in line
    ]


def test_one_memory_sink():
    assert _sites('format("memory")') == ["streaming/replay.py"]


def test_one_atomic_rename():
    assert _sites("os.replace(") == ["storage/manifest.py"]


# Package functions no root reaches, each kept for the reason given.
KEEP = {
    "compact_snapshot": "perfbench/tracing.py wraps it by name (WRAPPED)",
    "write_mr_output": "COVERAGE.md A3/A7: the reference's nReduce text sink",
    "read_whole_text_files": "COVERAGE.md A1: the reference's whole-file scan",
    "read_json_tolerant": "COVERAGE.md file-level tolerance row",
    "read_parquet_merged": "COVERAGE.md file-level tolerance row",
}


def _names(node: ast.AST) -> set[str]:
    return {
        n.id if isinstance(n, ast.Name) else n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def test_no_test_only_package_functions():
    """Reachability census over the AST, by name: the roots are every
    registered query and declared helper, the package's import-time
    code (decorators, default arguments, module statements), and all
    of bench.py, __spark_entry__.py, tools/ and perfbench/. A
    top-level package def that no root reaches runs only under the
    tests; delete it or give it a KEEP reason. Matching by bare name
    over-approximates (a same-named attribute anywhere keeps a def),
    so a pass does not prove every def is used."""
    from mapreduce_distributed_systems_spark.plans.registry import all_specs

    defs: dict[str, list[ast.AST]] = {}
    reached = set(KEEP)
    for path in PKG.rglob("*.py"):
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(stmt.name, []).append(stmt)
                for d in stmt.decorator_list:
                    reached |= _names(d)
                if isinstance(stmt, ast.FunctionDef):
                    reached |= _names(stmt.args)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                reached |= _names(stmt)
    roots = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    roots += sorted((REPO / "tools").glob("*.py"))
    roots += sorted((REPO / "perfbench").glob("*.py"))
    for path in roots:
        reached |= _names(ast.parse(path.read_text()))
    for spec in all_specs().values():
        reached |= {f.__name__ for f in (spec.fn, *spec.helpers)}

    todo = list(reached)
    while todo:
        for node in defs.get(todo.pop(), []):
            new = _names(node) - reached
            reached |= new
            todo.extend(new)

    assert sorted(set(defs) - reached) == [], "test-only package functions"
    assert sorted(set(KEEP) - set(defs)) == [], "KEEP names a deleted def"
