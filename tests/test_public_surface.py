"""Every top-level public function in the package earns its place: it has a
reference outside ``tests/``, or its docstring cites ``SURVEY`` (a capability
of the reference pipeline) or marks it a "test reference" (a witness that a
test compares the engine against). A function only tests call is surface to
delete, or a fixture to keep under ``tests/``.

Pure AST scan, no Spark. A reference is a name or attribute use, a
``from ... import`` of the name, or an identifier-like string in the
package, ``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``.
Re-exports are not references: an ``__all__`` entry in any module, or a
package ``__init__.py``'s ``from ... import``, does not count, nor does a
function's use of its own name. Functions registered with ``@register`` are used by the
query registry.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "vlm_data_pipeline_spark"
CALLER_ROOTS = (
    PACKAGE,
    REPO / "tools",
    REPO / "perfbench",
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
)


def _py_files(root: Path) -> list[Path]:
    return [root] if root.is_file() else sorted(root.rglob("*.py"))


def _is_registered(fn: ast.FunctionDef) -> bool:
    for dec in fn.decorator_list:
        target = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(target, "id", getattr(target, "attr", None)) == "register":
            return True
    return False


def _names(node: ast.AST) -> list[str]:
    """Every name referenced under ``node``."""
    out = []
    for sub in ast.walk(node):
        kind = type(sub)
        if kind is ast.Name:
            out.append(sub.id)
        elif kind is ast.Attribute:
            out.append(sub.attr)
        elif kind is ast.ImportFrom:
            out.extend(alias.name for alias in sub.names)
        elif kind is ast.Constant and type(sub.value) is str and sub.value.isidentifier():
            out.append(sub.value)
    return out


def _is_reexport(path: Path, top: ast.stmt) -> bool:
    """An ``__all__`` assignment at the top of any module, or an import at
    the top of a package ``__init__.py``: both name a function without
    calling it."""
    if isinstance(top, ast.Assign) and any(
        getattr(t, "id", None) == "__all__" for t in top.targets
    ):
        return True
    return path.name == "__init__.py" and isinstance(top, ast.ImportFrom)


def test_every_public_function_has_a_caller_or_a_citation():
    trees = {
        path: ast.parse(path.read_text(), str(path))
        for root in CALLER_ROOTS
        for path in _py_files(root)
    }
    uses: Counter[str] = Counter()
    self_uses: dict[tuple[Path, str], int] = {}
    for path, tree in trees.items():
        for top in tree.body:
            if _is_reexport(path, top):
                continue
            names = _names(top)
            uses.update(names)
            if isinstance(top, ast.FunctionDef):
                self_uses[path, top.name] = names.count(top.name)
    orphans = []
    for path, tree in trees.items():
        if not path.is_relative_to(PACKAGE):
            continue
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            doc = ast.get_docstring(fn) or ""
            if _is_registered(fn) or "SURVEY" in doc or "test reference" in doc.lower():
                continue
            if uses[fn.name] > self_uses[path, fn.name]:
                continue
            orphans.append(f"{path.relative_to(REPO)}:{fn.lineno} {fn.name}")
    assert not orphans, (
        "public functions with no caller outside tests/ and no SURVEY or "
        "test-reference citation:\n" + "\n".join(orphans)
    )


def test_package_reexports_are_not_callers():
    """A package ``__init__.py``'s imports and any module's ``__all__`` name
    functions without calling them; other statements, and a module's own
    imports, still count."""
    init = ast.parse("from .m import f\n__all__ = ['f']\nx = g()\n")
    assert [_is_reexport(PACKAGE / "__init__.py", t) for t in init.body] == [
        True,
        True,
        False,
    ]
    assert [_is_reexport(PACKAGE / "m.py", t) for t in init.body] == [
        False,
        True,
        False,
    ]
