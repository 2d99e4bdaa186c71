"""Every public package definition is reached by something other than a test.

An AST scan, no Spark session: a top-level function or class in
``glamira_batch_processing_spark/`` whose name is public and which is not
registered with ``@query`` must be named (as an AST ``Name``, an
``Attribute`` or an import alias) somewhere in the package,
``__spark_entry__.py``, ``bench.py``, ``perfbench/*.py`` or
``scripts/*.py``. Docstring and comment mentions do not count, and a
definition's own body does not reach it. Code only a test calls is dead
weight the bench and the driver never exercise, so it goes with its tests.

Two rules keep the scan honest:

- An import inside a package ``__init__.py`` is not a consumer: a
  re-export list names everything and calls nothing. The one exception
  is ``get_spark`` in the top-level ``__init__.py``, the entry point
  ``bench.py``, ``perfbench`` and the scripts import from the package.
- ``ALLOWED`` holds test-only definitions kept on purpose. An entry that
  some non-test file now reaches is stale and fails
  ``test_allow_list_names_exist``, so the list only holds what needs it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "glamira_batch_processing_spark"

# Test-only definitions kept on purpose, each with the reason.
ALLOWED = {
    "check_unique": "reference schema.yml test; the warehouse tests assert with it",
    "check_not_null": "reference schema.yml test; the warehouse tests assert with it",
    "check_accepted_values": "reference schema.yml test; the warehouse tests assert with it",
    "check_relationships": "reference schema.yml test; the warehouse tests assert with it",
    "write_raw_tables": "the warehouse test fixture",
    "gif_test_pattern": "the expected raster the multimodal tests compare against",
    "reconcile_read": "the paper's load-stage drift repair (normalize_parquet_run.py)",
    "asof_join": (
        "the reference asof_join_broadcast is tested against, and the form "
        "for a right side over the broadcast bound"
    ),
    "hll_estimate": "the Python estimator the SQL estimate is tested against",
    "ivf_search": (
        "the ordered-fold IVF reference the numpy ivf_search_np and the "
        "multi-probe recall tests compare against"
    ),
}

# Imports in a package __init__.py that still count as consumers.
INIT_EXPORTS = {PACKAGE / "__init__.py": {"get_spark"}}


def _consumer_files() -> list[Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    files += [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for d in ("perfbench", "scripts"):
        files += sorted(
            p for p in (REPO / d).glob("*.py") if not p.name.startswith("test_")
        )
    return files


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _names(
    tree: ast.AST, skip: ast.AST | None = None, imports: set[str] | None = None
) -> set[str]:
    """Every name ``tree`` uses, outside the subtree ``skip``. Import
    aliases count only when ``imports`` is None or names them."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            name = node.name.rsplit(".", 1)[-1]
            if imports is None or name in imports:
                out.add(name)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _reach() -> dict[str, bool]:
    """``module:name`` -> whether a consumer file names it, for every
    public, non-query package definition."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _consumer_files()}
    used_elsewhere: dict[Path, set[str]] = {
        p: _names(
            t, imports=INIT_EXPORTS.get(p, set()) if p.name == "__init__.py" else None
        )
        for p, t in trees.items()
    }
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in trees[path].body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            if node.name.startswith("_") or _is_query(node):
                continue
            reached = node.name in _names(trees[path], skip=node) or any(
                node.name in names
                for p, names in used_elsewhere.items()
                if p != path
            )
            out[f"{path.relative_to(REPO)}:{node.name}"] = reached
    return out


def unreached() -> list[str]:
    """``module:name`` for every public, non-query package definition no
    consumer file names and ``ALLOWED`` does not keep."""
    return [
        key
        for key, reached in _reach().items()
        if not reached and key.rsplit(":", 1)[1] not in ALLOWED
    ]


def test_every_public_definition_has_a_non_test_consumer():
    dead = unreached()
    assert not dead, (
        "public package definitions reached only by tests (delete them with "
        "their tests, or add a consumer):\n  " + "\n  ".join(dead)
    )


def test_allow_list_names_exist():
    reach = _reach()
    defined = {key.rsplit(":", 1)[1] for key in reach}
    assert set(ALLOWED) <= defined, sorted(set(ALLOWED) - defined)
    stale = sorted(
        key for key, reached in reach.items()
        if reached and key.rsplit(":", 1)[1] in ALLOWED
    )
    assert not stale, f"ALLOWED entries a non-test file now reaches: {stale}"
