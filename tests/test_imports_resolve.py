"""Every ``tsfresh_spark`` import in the repository resolves.

Most package imports sit inside functions, so a dangling import of a
removed module or name only fails when that function runs.  This test
walks the syntax tree of the package, the scripts, the driver entry, the
tests and the benchmark, and resolves each ``import tsfresh_spark…`` and
``from tsfresh_spark… import name`` wherever it appears.  A second test
walks the same imports as a graph and checks that every package module is
reached from something that runs it — ``__spark_entry__.py``, the
benchmark or a script — so that a module only the tests use does not
linger.  No Spark
session is started.
"""

import ast
import glob
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "tsfresh_spark"


def _sources(
    patterns=(
        "__spark_entry__.py",
        f"{PACKAGE}/**/*.py",
        "scripts/*.py",
        "tests/*.py",
        "perfbench/*.py",
    ),
) -> list[str]:
    return sorted(
        path
        for pattern in patterns
        for path in glob.glob(os.path.join(ROOT, pattern), recursive=True)
    )


def _package_imports(path: str):
    """(line, module, name or None) of every absolute package import."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PACKAGE:
                    yield node.lineno, alias.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == PACKAGE:
                for alias in node.names:
                    yield node.lineno, node.module, alias.name


def _unresolved(module: str, name: str | None) -> str | None:
    try:
        mod = importlib.import_module(module)
    except ImportError as exc:
        return f"module {module}: {exc}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return f"{module} has no {name}"
    return None


def test_every_package_import_resolves():
    checked, failures = 0, []
    for path in _sources():
        for line, module, name in _package_imports(path):
            checked += 1
            err = _unresolved(module, name)
            if err:
                failures.append(f"{os.path.relpath(path, ROOT)}:{line}: {err}")
    assert checked > 100, f"only {checked} imports found; is the walk broken?"
    assert failures == [], "\n".join(failures)


def _package_modules() -> dict[str, str]:
    """{dotted module name: path} of every module in the package."""
    out = {}
    for path in _sources((f"{PACKAGE}/**/*.py",)):
        parts = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def _references(path: str, modules) -> set[str]:
    """Package modules that ``path`` imports, or names in a string literal
    (``"tsfresh_spark.worker_daemon"`` is started by name).  Importing a
    module also runs the ``__init__`` of every package above it."""
    named = set()
    for _, module, name in _package_imports(path):
        named.add(module)
        if name is not None:
            named.add(f"{module}.{name}")
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    named.update(
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
    )
    out = set()
    for name in named & modules.keys():
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def test_every_package_module_is_reached_outside_the_tests():
    modules = _package_modules()
    roots = _sources(("__spark_entry__.py", "scripts/*.py", "perfbench/*.py"))
    reached = set().union(*(_references(path, modules) for path in roots))
    todo = list(reached)
    while todo:
        for name in _references(modules[todo.pop()], modules) - reached:
            reached.add(name)
            todo.append(name)
    assert len(modules) > 20, f"only {len(modules)} modules found; is the walk broken?"
    unreached = sorted(set(modules) - reached)
    assert unreached == [], (
        "modules that neither __spark_entry__.py, the benchmark nor a "
        f"script imports: {unreached}"
    )
