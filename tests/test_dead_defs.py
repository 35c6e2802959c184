"""Dead-definition guard: every top-level package ``def``/``class`` and
module-level constant (``X = ...`` / ``X: T = ...``) must be referenced
somewhere in the repo (package, tests, tools, scripts).

Pure ``ast`` pass over the source tree — no Spark, no imports of the
package. A definition counts as referenced when its name is loaded
anywhere as an ``ast.Name`` or an ``ast.Attribute`` attribute, or
appears as an import alias or an identifier-shaped string constant
(``__all__``, registry keys, ``getattr`` names). Assigning a name is
not a reference, so a constant is not kept alive by its own
assignment. Definitions carrying a decorator other than ``pandas_udf``
are registered through that decorator (``@q`` queries, ``@given``
tests, ...) and are out of scope, as are dunders (``__version__``).

The reverse direction — code deleted from under a caller that is kept —
is guarded by ``test_every_relative_import_resolves``, which does import
each target module (still no Spark): a lazy ``from .operators.x import
y`` inside a query body would otherwise fail only when that query runs.
"""

from __future__ import annotations

import ast
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "osm_admin_boundary_conflation_spark"
_SKIP_DIRS = {"__pycache__", "spark-warehouse", "metastore_db"}


def _py_files(root: str):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(
            d for d in dirnames if not d.startswith(".") and d not in _SKIP_DIRS
        )
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _decorator_name(d: ast.expr) -> str:
    if isinstance(d, ast.Call):
        d = d.func
    if isinstance(d, ast.Attribute):
        return d.attr
    if isinstance(d, ast.Name):
        return d.id
    return ""


def _references(tree: ast.AST) -> set[str]:
    refs: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.update(node.name.split("."))
            if node.asname:
                refs.add(node.asname)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                refs.add(node.value)
    return refs


def find_dead_defs(root: str = ROOT) -> list[str]:
    refs: set[str] = set()
    candidates: list[tuple[str, str]] = []
    pkg_dir = os.path.join(root, PACKAGE)
    for path in _py_files(root):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        refs |= _references(tree)
        if not path.startswith(pkg_dir + os.sep):
            continue
        rel = os.path.relpath(path, root)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if all(_decorator_name(d) == "pandas_udf" for d in node.decorator_list):
                    candidates.append((rel, node.name))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                candidates += [
                    (rel, t.id)
                    for t in targets
                    if isinstance(t, ast.Name) and not (t.id.startswith("__") and t.id.endswith("__"))
                ]
    return sorted(f"{rel}:{name}" for rel, name in candidates if name not in refs)


def test_no_unreferenced_package_definitions():
    dead = find_dead_defs()
    assert dead == [], "unreferenced top-level definitions:\n  " + "\n  ".join(dead)


def test_package_compiles_without_warnings():
    """Every repo source compiles with warnings as errors, so an invalid
    string escape (a SyntaxWarning today, an error in a later Python)
    cannot creep into a query or its oracle SQL."""
    import warnings

    failed = []
    for path in _py_files(ROOT):
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(src, path, "exec")
            except (SyntaxError, Warning) as e:
                failed.append(f"{os.path.relpath(path, ROOT)}: {e}")
    assert failed == [], "\n".join(failed)


def find_unresolved_imports(root: str = ROOT) -> list[str]:
    """Every relative ``from ... import name`` in the package, at any
    nesting depth, whose module does not import or lacks the name."""
    bad: list[str] = []
    for path in _py_files(os.path.join(root, PACKAGE)):
        rel = os.path.relpath(path, root)
        pkg = os.path.dirname(rel).replace(os.sep, ".")
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level == 0:
                continue
            target = importlib.util.resolve_name(
                "." * node.level + (node.module or ""), pkg
            )
            where = f"{rel}:{node.lineno}"
            try:
                mod = importlib.import_module(target)
            except ImportError as e:
                bad.append(f"{where}: {target} ({e})")
                continue
            for alias in node.names:
                if alias.name == "*" or hasattr(mod, alias.name):
                    continue
                try:  # ``from . import submodule``
                    importlib.import_module(f"{target}.{alias.name}")
                except ImportError:
                    bad.append(f"{where}: {target} has no {alias.name}")
    return bad


def test_every_relative_import_resolves():
    bad = find_unresolved_imports()
    assert bad == [], "unresolved relative imports:\n  " + "\n  ".join(bad)
