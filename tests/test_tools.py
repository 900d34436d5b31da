"""Every engine name the standalone scripts import still exists.

The scripts under tools/, bench.py and perfbench/ are not imported by
any other test, so an operator removed from tabata_spark would break
them silently. This parses each script and resolves its
``from tabata_spark... import name`` statements without starting Spark.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    os.path.relpath(p, ROOT)
    for pattern in ("tools/*.py", "perfbench/*.py", "bench.py")
    for p in glob.glob(os.path.join(ROOT, pattern))
)


def _engine_imports(path):
    with open(os.path.join(ROOT, path)) as fh:
        tree = ast.parse(fh.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "tabata_spark"
        ):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("tabata_spark"):
                    yield alias.name, None


def _resolves(module, name):
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_engine_imports_resolve():
    assert "bench.py" in SCRIPTS and "tools/oracle_check.py" in SCRIPTS
    missing = [
        f"{path}: {module}.{name}" if name else f"{path}: {module}"
        for path in SCRIPTS
        for module, name in _engine_imports(path)
        if not _resolves(module, name)
    ]
    assert missing == [], f"scripts import names that no longer exist: {missing}"
