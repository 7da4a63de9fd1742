"""Dead-code gate, without Spark: every module-level function and class of
``btrblocks_spark`` must be referenced from somewhere other than its own
definition — the package, ``bench.py``, ``__spark_entry__.py``,
``perfbench/``, ``scripts/`` or ``tests/``. Registered queries (``@register``)
are reached through the registry and dunders through the language, so both
are exempt. A name listed as a string in a package's lazy ``_EXPORTS`` map
counts as referenced."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "btrblocks_spark"


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("btrblocks_spark", "perfbench", "scripts", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return [f for f in files if f.is_file()]


def _names(node: ast.AST) -> set[str]:
    """Identifiers ``node`` reads, imports or exports through ``_EXPORTS``."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (
            isinstance(n, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "_EXPORTS" for t in n.targets)
            and isinstance(n.value, ast.Dict)
        ):
            out |= {k.value for k in n.value.keys if isinstance(k, ast.Constant)}
    return out


def _is_registered(node: ast.AST) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "register":
            return True
    return False


def test_every_module_level_definition_is_referenced():
    defs: list[tuple[str, int, str]] = []
    refs: set[str] = set()
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            own = getattr(stmt, "name", None)
            # a definition's references to its own name (recursion) do not
            # make it reachable
            refs |= _names(stmt) - {own}
            if (
                path.is_relative_to(PACKAGE)
                and isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not (own.startswith("__") and own.endswith("__"))
                and not _is_registered(stmt)
            ):
                defs.append((str(path.relative_to(ROOT)), stmt.lineno, own))
    dead = [f"{p}:{line} {name}" for p, line, name in defs if name not in refs]
    assert not dead, "referenced nowhere: " + ", ".join(dead)
