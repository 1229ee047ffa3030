"""The package holds what the program runs: every public function,
class and method in ``ocrs_spark/`` has a caller outside ``tests/``.
Test oracles and test-input generators live in ``tests/``."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

# Called by a protocol, never by name from this repo.
PROTOCOL_HOOKS = {
    # html.parser.HTMLParser calls these while it feeds a document
    "ocrs_spark/dom.py:_TreeBuilder.handle_starttag",
    "ocrs_spark/dom.py:_TreeBuilder.handle_startendtag",
    "ocrs_spark/dom.py:_TreeBuilder.handle_endtag",
    "ocrs_spark/dom.py:_TreeBuilder.handle_data",
    # the Spark Python Data Source API calls these on a stream read
    "ocrs_spark/iceberg_source.py:IcebergDataSource.streamReader",
    "ocrs_spark/iceberg_source.py:IcebergStreamReader.initialOffset",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _definitions(tree: ast.Module):
    """(qualified name, node) of every module-level function and class
    and every method or nested class of a module-level class."""
    for node in tree.body:
        if isinstance(node, _DEFS):
            yield node.name, node
            if isinstance(node, ast.ClassDef):
                for member in node.body:
                    if isinstance(member, _DEFS):
                        yield f"{node.name}.{member.name}", member


def _references(tree: ast.Module):
    """(name, node) of every Name, Attribute and import alias."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node
        elif isinstance(node, ast.Attribute):
            yield node.attr, node
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node


def test_every_public_definition_has_a_caller():
    """A public definition is referenced by name somewhere in
    ``ocrs_spark/``, ``perfbench/`` (not its tests), ``scripts/``,
    ``bench*.py`` or ``__spark_entry__.py``, outside its own body.
    Dunders and ``_``-prefixed names are exempt, and so are the
    protocol hooks above, each of which must still be defined. Code
    only tests call belongs in ``tests/``. The guard matches by name
    alone, so a method with no caller passes when another API uses its
    name: ``geometry.Rect.contains`` passed on ``Column.contains`` and
    ``DocumentCheckpoint.compact`` on ``IcebergTable.compact``."""
    package = sorted(ROOT.glob("ocrs_spark/**/*.py"))
    roots = [
        *package,
        *(p for p in ROOT.glob("perfbench/**/*.py") if "tests" not in p.parts),
        *ROOT.glob("scripts/**/*.py"),
        *ROOT.glob("bench*.py"),
        ROOT / "__spark_entry__.py",
    ]
    trees = {path: ast.parse(path.read_text()) for path in roots}
    referenced: dict[str, list[ast.AST]] = {}
    for tree in trees.values():
        for name, node in _references(tree):
            referenced.setdefault(name, []).append(node)

    defined, uncalled = set(), []
    for path in package:
        for qualname, node in _definitions(trees[path]):
            name = qualname.rsplit(".", 1)[-1]
            key = f"{path.relative_to(ROOT)}:{qualname}"
            defined.add(key)
            if name.startswith("_") or key in PROTOCOL_HOOKS:
                continue
            own = {id(n) for n in ast.walk(node)}
            if not any(id(ref) not in own for ref in referenced.get(name, ())):
                uncalled.append(key)
    assert uncalled == []
    assert PROTOCOL_HOOKS <= defined

