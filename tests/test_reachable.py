"""Every top-level definition in the package is reached by a job.

A Spark-free AST walk: the roots are the names that the CLI
(``__main__.py``), the query registry (``__spark_entry__.py``), the bench
harnesses (``bench.py``, ``perfbench/``), ``tools/`` and the package's own
module-level code use; a top-level definition is reached when its name is
used by a root or by the body of a reached definition. An unreached
definition is code only tests run — a second implementation of something a
job already does, or a helper nothing calls — so it must be wired into a
job or deleted with its tests, unless it is on the allowlist below with
its reason. The walk matches by name, not by module, so a name clash can
only make it reach more, never flag code that a job runs.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "kafka2iceberg_spark"

#: unreached top-level definitions kept on purpose, with the reason
ALLOWED = {
    "match_stream": "the only streaming CEP matcher (cep.py); not yet a job",
    "compile_pattern": "compiles match_stream's pattern into its NFA",
    "match_spans": "runs match_stream's NFA over one conversation",
    "start_window_sink": "the only streaming tumbling window; not yet a job",
    "ThroughputListener": "the CLI is to attach it (ROADMAP item 2)",
    "have_iceberg": "real-Iceberg MERGE path; test_gated_contracts pins it",
    "merge_sql": "real-Iceberg MERGE path; test_gated_contracts pins it",
    "merge_into_iceberg": "real-Iceberg MERGE path; test_gated_contracts pins it",
}


def _used(node: ast.AST) -> set[str]:
    """Names a subtree uses: loads, attribute names and imported names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def unreached_defs() -> set[str]:
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.glob("*.py")):
        tree = _parse(path)
        if path.name == "__main__.py":
            roots |= _used(tree)
            continue
        for stmt in tree.body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append(stmt)
            else:
                roots |= _used(stmt)
    for path in [
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "tools").glob("*.py")),
        *sorted((ROOT / "perfbench").glob("*.py")),
    ]:
        roots |= _used(_parse(path))

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for node in defs[name]:
            todo.extend(n for n in _used(node) if n in defs)

    return set(defs) - reached


def test_every_definition_is_reached_by_a_job():
    assert unreached_defs() == set(ALLOWED)
