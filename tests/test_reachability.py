"""Every top-level def and class in the package is reached from a product
entry.  AST only: no Spark session, no import of the package.

Roots are the product entries, taken whole: ``__main__.py`` (the CLI),
``__spark_entry__.py`` (queries and oracle SQL), ``bench.py`` and
``perfbench/*.py``; plus every ``@register`` row and every module-level
statement of the package (an import runs them).  A def is reached when
a reached body names it as an ``ast.Name`` or ``ast.Attribute``: a bare
name resolves to the module's own def or to what the module imported
under that name, and ``mod.attr`` resolves through an imported module.
An attribute on anything else (an object, a parameter) reaches nothing,
so a field such as ``args.<name>`` cannot keep a dead def ``<name>``
alive.  Names inside strings and docstrings are not references.
Reaching a class reaches its whole body.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "etl_olho_vivo_spark"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, path: Path):
        self.name = _module_name(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), filename=str(path))
        self.defs: dict[str, ast.AST] = {}
        self.statements: list[ast.AST] = []
        for node in self.tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                self.defs[node.name] = node
                # decorators and defaults run at import time
                self.statements += node.decorator_list
                if not isinstance(node, ast.ClassDef):
                    self.statements += node.args.defaults
                    self.statements += [
                        d for d in node.args.kw_defaults if d is not None
                    ]
            else:
                self.statements.append(node)
        # name -> ("module", dotted) | ("member", dotted, attr), from every
        # import in the file (function-local ones included)
        self.bindings: dict[str, tuple] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.bindings[a.asname] = ("module", a.name)
                    else:
                        head = a.name.split(".")[0]
                        self.bindings[head] = ("module", head)
            elif isinstance(node, ast.ImportFrom):
                base = self._absolute(node)
                for a in node.names:
                    self.bindings[a.asname or a.name] = ("member", base, a.name)

    def _absolute(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        pkg = self.name.split(".")
        if not self.is_pkg:
            pkg = pkg[:-1]
        pkg = pkg[: len(pkg) - (node.level - 1)]
        return ".".join(pkg + ([node.module] if node.module else []))


def _is_register(decorator: ast.AST) -> bool:
    target = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(target, ast.Name) and target.id == "register") or (
        isinstance(target, ast.Attribute) and target.attr == "register"
    )


def _load() -> tuple[dict[str, _Module], list[_Module]]:
    package = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        mod = _Module(path)
        package[mod.name] = mod
    roots = [package[f"{PKG}.__main__"], _Module(ROOT / "__spark_entry__.py")]
    roots.append(_Module(ROOT / "bench.py"))
    roots += [_Module(p) for p in sorted((ROOT / "perfbench").glob("*.py"))]
    return package, roots


def unreached() -> list[str]:
    """``module:name`` of every top-level def or class no root reaches."""
    package, roots = _load()
    reached: set[tuple[str, str]] = set()
    work: list[tuple[_Module, list[ast.AST]]] = []

    def reach(key: tuple[str, str]) -> None:
        if key in reached or key[0] not in package:
            return
        reached.add(key)
        work.append((package[key[0]], [package[key[0]].defs[key[1]]]))

    def member(mod_name: str, attr: str, seen=()) -> list[tuple[str, str]]:
        """What ``attr`` names in module ``mod_name``: its own def, or a
        def it imported under that name (re-exports followed)."""
        mod = package.get(mod_name)
        if mod is None or (mod_name, attr) in seen:
            return []
        if attr in mod.defs:
            return [(mod_name, attr)]
        bound = mod.bindings.get(attr)
        if bound and bound[0] == "member":
            return member(bound[1], bound[2], seen + ((mod_name, attr),))
        return []

    def module_of(mod: _Module, node: ast.AST) -> str | None:
        """The dotted module an expression denotes, if it denotes one."""
        if isinstance(node, ast.Name):
            bound = mod.bindings.get(node.id)
            if bound is None:
                return None
            if bound[0] == "module":
                return bound[1]
            dotted = f"{bound[1]}.{bound[2]}"
            return dotted if dotted in package else None
        if isinstance(node, ast.Attribute):
            base = module_of(mod, node.value)
            if base is not None and f"{base}.{node.attr}" in package:
                return f"{base}.{node.attr}"
        return None

    def visit(mod: _Module, nodes: list[ast.AST]) -> None:
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    if node.id in mod.defs:
                        reach((mod.name, node.id))
                    bound = mod.bindings.get(node.id)
                    if bound and bound[0] == "member":
                        for key in member(bound[1], bound[2]):
                            reach(key)
                elif isinstance(node, ast.Attribute):
                    base = module_of(mod, node.value)
                    if base is not None:
                        for key in member(base, node.attr):
                            reach(key)

    for mod in roots:
        work.append((mod, mod.tree.body))
        if mod.name in package:
            reached.update((mod.name, name) for name in mod.defs)
    for mod in package.values():
        work.append((mod, mod.statements))
        for name, node in mod.defs.items():
            if any(_is_register(d) for d in node.decorator_list):
                reach((mod.name, name))
    while work:
        visit(*work.pop())

    return sorted(
        f"{mod.name}:{name}"
        for mod in package.values()
        for name in mod.defs
        if (mod.name, name) not in reached
    )


def test_every_package_def_is_reached_from_a_product_entry():
    dead = unreached()
    assert not dead, (
        f"{len(dead)} top-level defs are reached by no product entry "
        "(only tests call them); delete them or move test oracles into "
        "tests/:\n  " + "\n  ".join(dead)
    )

