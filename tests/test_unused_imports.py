"""No module in the package imports a name it never uses.

An AST scan, no Spark session. Every ``import`` / ``from ... import``
statement in a ``.py`` file under ``glamira_batch_processing_spark/``
binds names in its scope: the module, or the function it sits in. A
bound name that no ``Name`` node in that scope (nested functions and
classes included) reads is unused. Text does not count: a name that
only a docstring or comment mentions is still unused. ``from __future__``
imports bind nothing and are skipped.

A re-export that stays on purpose goes on ``ALLOWED`` with its module.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "glamira_batch_processing_spark"

# module (relative to the repo) -> names it imports only to re-export.
# ``get_spark`` is the package's entry point: bench.py, perfbench and the
# scripts import it from the top-level package.
ALLOWED: dict[str, set[str]] = {"glamira_batch_processing_spark/__init__.py": {"get_spark"}}

_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)


def _imports_by_scope(tree: ast.Module) -> list[tuple[ast.AST, ast.Import | ast.ImportFrom]]:
    """(enclosing module or function, import statement) pairs."""
    out = []

    def visit(node: ast.AST, scope: ast.AST) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                out.append((scope, child))
            visit(child, child if isinstance(child, _SCOPES) else scope)

    visit(tree, tree)
    return out


def unused_imports(root: Path = PACKAGE) -> list[str]:
    """``file:line name`` of each imported name its scope never reads."""
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root.parent))
        for scope, stmt in _imports_by_scope(ast.parse(path.read_text())):
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
            for alias in stmt.names:
                name = (alias.asname or alias.name).split(".")[0]
                if name not in read and name not in ALLOWED.get(rel, ()):
                    found.append(f"{rel}:{stmt.lineno} {name}")
    return found


def test_no_unused_imports():
    found = unused_imports()
    assert not found, "imported names never used (remove them):\n  " + "\n  ".join(found)


def test_allow_list_is_current():
    for rel, names in ALLOWED.items():
        tree = ast.parse((REPO / rel).read_text())
        bound = {
            (a.asname or a.name).split(".")[0]
            for _, stmt in _imports_by_scope(tree)
            for a in stmt.names
        }
        assert names <= bound, f"{rel}: ALLOWED names it no longer imports: {names - bound}"


def test_scan_finds_planted_imports(tmp_path):
    (tmp_path / "a.py").write_text(
        "from __future__ import annotations\n"
        "import os\n"
        "from json import dumps, loads\n"
        "\n"
        "\n"
        "def f():\n"
        '    """Calls loads() -- but only in this docstring."""\n'
        "    from math import sqrt\n"
        "\n"
        "    return dumps(os.sep)\n"
        "\n"
        "\n"
        "def g():\n"
        "    from math import floor\n"
        "\n"
        "    return [floor(x) for x in (1.5,)]\n"
    )
    d = tmp_path.name
    assert unused_imports(tmp_path) == [f"{d}/a.py:3 loads", f"{d}/a.py:8 sqrt"]
