"""Every top-level definition and class method in the package is reached by
a job.

A Spark-free AST walk: the roots are the names that the CLI
(``__main__.py``), the query registry (``__spark_entry__.py``), the bench
harnesses (``bench.py``, ``perfbench/``), ``tools/`` and the package's own
module-level code use, plus the methods Spark or Python call by protocol
(``PROTOCOL``). A definition — a top-level function or class, or a method
of a top-level class — is reached when its name is used by a root or by the
body of a reached definition; a class's own body (bases, decorators, class
attributes) does not pull in its methods. An unreached definition is code
only tests run — a second implementation of something a job already does,
or a helper nothing calls — so it must be wired into a job or deleted with
its tests, unless it is on the allowlist below with its reason.

The walk matches by name, not by module or class, so a name clash can only
make it reach more, never flag code that a job runs. The price is that a
definition whose name a job uses for something else escapes it: a method
named like a common identifier (``tag``, ``lineage``) is reached by any
``x.tag`` or ``lineage`` anywhere in a root.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "kafka2iceberg_spark"

#: unreached definitions kept on purpose, with the reason
ALLOWED = {
    "match_stream": "the only streaming CEP matcher (cep.py); not yet a job",
    "compile_pattern": "compiles match_stream's pattern into its NFA",
    "match_spans": "runs match_stream's NFA over one conversation",
    "start_window_sink": "the only streaming tumbling window; not yet a job",
    "ThroughputListener": "the CLI is to attach it (ROADMAP item 2)",
    "ThroughputListener.throughput": "the listener's read-out; same reason",
    "have_iceberg": "real-Iceberg MERGE path; test_gated_contracts pins it",
    "merge_sql": "real-Iceberg MERGE path; test_gated_contracts pins it",
    "merge_into_iceberg": "real-Iceberg MERGE path; test_gated_contracts pins it",
    "IcebergLite.plan_scan": "pruning introspection the scan tests assert",
    "IcebergLite.plan_scan_null": "pruning introspection the scan tests assert",
    "IcebergLite.meta_table": "metadata tables, the observability surface"
    " of ROADMAP item 2",
    "meta_table": "the metadata-table dispatch IcebergLite.meta_table calls",
    "TemporalEnrich.recompute": "batch parity oracle for the streaming join",
    "TemporalEnrich.pending": "rows the enrich join holds back; tests read it",
    "IncrementalJoinView.recompute": "batch parity oracle for the view",
    "MultiTableTransaction.abort": "releases a transaction's staged branches",
}

#: methods Spark or Python call by protocol, never by name in job code:
#: DataSource and stream-reader callbacks (besides dunders and the
#: StreamingQueryListener ``on*`` callbacks, matched by shape below)
PROTOCOL = {
    "name", "schema", "reader", "writer", "streamReader",
    "simpleStreamReader", "streamWriter", "initialOffset", "latestOffset",
    "partitions", "read", "readBetweenOffsets", "commit", "stop",
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _is_protocol(name: str) -> bool:
    return (
        (name.startswith("__") and name.endswith("__"))
        or name in PROTOCOL
        or (name.startswith("on") and name[2:3].isupper())
    )


def _used(*nodes: ast.AST) -> set[str]:
    """Names the subtrees use: loads, attribute names and imported names."""
    out: set[str] = set()
    for node in nodes:
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


def _definitions(stmt: ast.stmt):
    """(qualified name, name, names its body uses) for a top-level
    function or class and each method of the class."""
    if isinstance(stmt, _FUNCS):
        yield stmt.name, stmt.name, _used(stmt)
    elif isinstance(stmt, ast.ClassDef):
        own = [s for s in stmt.body if not isinstance(s, _FUNCS)]
        yield stmt.name, stmt.name, _used(
            *stmt.bases, *stmt.keywords, *stmt.decorator_list, *own
        )
        for m in stmt.body:
            if isinstance(m, _FUNCS):
                yield f"{stmt.name}.{m.name}", m.name, _used(m)


def unreached_defs() -> set[str]:
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.glob("*.py")):
        tree = _parse(path)
        if path.name == "__main__.py":
            roots |= _used(tree)
            continue
        for stmt in tree.body:
            found = list(_definitions(stmt))
            if not found:
                roots |= _used(stmt)
            for qual, name, uses in found:
                defs.setdefault(name, []).append((qual, uses))
                if qual != name and _is_protocol(name):
                    roots.add(name)
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
        for _qual, uses in defs[name]:
            todo.extend(n for n in uses if n in defs)

    return {
        qual
        for name, found in defs.items()
        if name not in reached
        for qual, _uses in found
    }


def test_every_definition_is_reached_by_a_job():
    assert unreached_defs() == set(ALLOWED)
