"""Tests and tools import the package of the checkout that holds them."""

from __future__ import annotations

import ast
import glob
import os
import re
import sys


def test_check_oracle_root_is_this_checkout():
    """tools/check_oracle.py puts its own checkout first on sys.path, so
    a copy or clone checks its own package, not a fixed path's."""
    import map_reduce_sf_crime_spark
    from tools import check_oracle

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert check_oracle.ROOT == here
    assert here in sys.path
    pkg = os.path.dirname(os.path.abspath(map_reduce_sf_crime_spark.__file__))
    assert os.path.dirname(pkg) == here


PKG = "map_reduce_sf_crime_spark"
#: a package module path or dotted module name as README.md writes it
_README_MODULE = re.compile(PKG + r"(?:[/.][A-Za-z_]\w*)+")


def _module_file(root: str, name: str) -> str | None:
    """The file that importing the dotted ``name`` executes, if it is
    a package module: ``pkg/a/b.py`` or ``pkg/a/b/__init__.py``."""
    base = os.path.join(root, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _imported_names(path: str, module: str | None) -> set[str]:
    """Every dotted module name a file's ``import`` statements can load,
    function-local imports included; relative imports resolve against
    ``module`` (the file's own dotted name, None outside the package).
    ``from a import b`` yields both ``a`` and ``a.b`` (b may be a
    submodule); names that are not modules are dropped by the caller."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    is_pkg = path.endswith("__init__.py")
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = module.split(".")
                parts = parts[: len(parts) - node.level + is_pkg]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            out.add(base)
            out.update(f"{base}.{alias.name}" for alias in node.names)
    # importing a.b.c runs a/__init__.py and a/b/__init__.py first
    return {".".join(n.split(".")[:i]) for n in out for i in range(1, n.count(".") + 2)}


def test_every_package_module_is_reachable():
    """Every module of the package is reached by the import graph of
    the registry, the bench, the driver entry, perfbench, the tools or
    a module README.md names as an API: code that only tests import
    is dead weight, deleted together with its tests."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    roots = [
        os.path.join(root, PKG, "plans", "registry.py"),
        os.path.join(root, "bench.py"),
        os.path.join(root, "__spark_entry__.py"),
        *sorted(glob.glob(os.path.join(root, "perfbench", "*.py"))),
        *sorted(glob.glob(os.path.join(root, "tools", "*.py"))),
    ]
    with open(os.path.join(root, "README.md"), encoding="utf-8") as fh:
        named = _README_MODULE.findall(fh.read())
    for ref in named:
        path = _module_file(root, ref.removesuffix(".py").replace("/", "."))
        assert path, f"README.md names {ref}, which is no package module"
        roots.append(path)

    def dotted(path: str) -> str | None:
        rel = os.path.relpath(path, root)
        if not rel.startswith(PKG + os.sep):
            return None
        rel = rel.removesuffix(".py").removesuffix(os.sep + "__init__")
        return rel.replace(os.sep, ".")

    seen: set[str] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path, dotted(path)):
            target = _module_file(root, name) if name.startswith(PKG) else None
            if target and target not in seen:
                todo.append(target)

    modules = glob.glob(os.path.join(root, PKG, "**", "*.py"), recursive=True)
    unreachable = sorted(
        os.path.relpath(p, root) for p in modules if p not in seen
    )
    assert not unreachable, f"package modules only tests reach: {unreachable}"
