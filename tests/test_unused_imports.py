"""Every name a package module imports is used there (no linter ships with
the project, so this is the lint rule). A name listed in the module's
``__all__`` counts as used: that is a deliberate re-export."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "jsonld_streaming_parser_js_spark"


def _unused_imports(tree: ast.Module) -> set[str]:
    imported = {(a.asname or a.name).split(".")[0]
                for node in ast.walk(tree)
                if isinstance(node, (ast.Import, ast.ImportFrom))
                and not (isinstance(node, ast.ImportFrom)
                         and node.module == "__future__")
                for a in node.names}
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and any(getattr(t, "id", None) == "__all__"
                        for t in node.targets)):
            used |= set(ast.literal_eval(node.value))
    return imported - used


def test_package_has_no_unused_imports():
    unused = {str(p.relative_to(PACKAGE)): sorted(names)
              for p in sorted(PACKAGE.rglob("*.py"))
              if (names := _unused_imports(ast.parse(p.read_text())))}
    assert not unused, unused
