"""Every top-level def under ``sec_dl_spark/`` is reachable from an entry
point, or is named in ``KEEP`` with the reason it stays.

The scan is by name, over the ast: a reference is a ``Name``, an
``Attribute``, an import alias or a string constant that is an identifier.
It starts from the entry points — the catalog (``sec_dl_spark/plans/``),
the CLI (``__main__.py``), the query entry points (``__spark_entry__.py``),
``bench.py``, ``perfbench/`` (not its tests) and ``tools/`` — plus the
module-level code of every library module, and follows the names each
reached def references. Tests are not entry points: a def only tests
call is library surface no user can invoke.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "sec_dl_spark"

KEEP = {
    "apply_pg_fts_ddl": "PostgreSQL serving mirror: the reference's tsvector column and GIN index DDL",
    "build_upsert_sql": "PostgreSQL serving mirror: the reference's ON CONFLICT upsert statement",
    "pg_upsert_batch_fn": "PostgreSQL serving mirror: executor-side upsert of each partition",
    "read_jdbc": "PostgreSQL serving mirror: read the served tables back over JDBC",
    "write_jdbc_append": "PostgreSQL serving mirror: the reference's quarterly JDBC appends",
    "idx_url_grid": "the reference's quarterly EDGAR master.idx URL list",
}


def _is_root(path: Path) -> bool:
    rel = path.relative_to(ROOT).as_posix()
    return (
        rel.startswith("sec_dl_spark/plans/")
        or rel in ("sec_dl_spark/__main__.py", "__spark_entry__.py", "bench.py")
        or (rel.startswith("perfbench/") and not rel.startswith("perfbench/tests/"))
        or rel.startswith("tools/")
    )


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def unreached_defs() -> dict[str, str]:
    """{def name: 'module path:line'} for every top-level def under
    ``sec_dl_spark/`` that no entry point reaches."""
    defs: dict[str, list[tuple[Path, ast.AST]]] = {}
    seen: set[str] = set()
    sources = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("sec_dl_spark", "perfbench", "tools"):
        sources += sorted((ROOT / d).rglob("*.py"))
    for path in sources:
        tree = ast.parse(path.read_text(), str(path))
        if _is_root(path):
            seen |= _refs(tree)
        elif LIB in path.parents:
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    defs.setdefault(node.name, []).append((path, node))
                else:
                    seen |= _refs(node)
    todo, reached = list(seen), set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, []):
            todo.extend(_refs(node) - reached)
    return {
        name: f"{path.relative_to(ROOT).as_posix()}:{node.lineno}"
        for name, found in defs.items()
        if name not in reached
        for path, node in found
    }


def test_every_library_def_is_reached_or_kept():
    unreached = unreached_defs()
    extra = {n: where for n, where in unreached.items() if n not in KEEP}
    assert not extra, f"defs no entry point reaches (delete them, or KEEP with a reason): {extra}"
    stale = sorted(set(KEEP) - set(unreached))
    assert not stale, f"KEEP names defs that are now reached or gone: {stale}"
