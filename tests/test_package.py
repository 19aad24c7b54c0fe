"""The spark-submit deliverable: dist/crawler_spark.zip builds
deterministically and the package imports from the zip alone (what
--py-files does on every executor); and every kernel module it ships
is one an entry point uses, or one of the few still named as not."""

from __future__ import annotations

import ast
import glob
import hashlib
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZIP = os.path.join(REPO, "dist", "crawler_spark.zip")


def _build() -> bytes:
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "package.py")],
        check=True, capture_output=True,
    )
    with open(ZIP, "rb") as f:
        return f.read()


def test_package_zip_deterministic_and_importable(tmp_path):
    h1 = hashlib.md5(_build()).hexdigest()
    h2 = hashlib.md5(_build()).hexdigest()
    assert h1 == h2  # byte-identical rebuilds (cluster cache keys)

    # import from the zip ONLY: cwd outside the repo, zip first on path
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import crawler_spark.functions.textops as u; "
        "import crawler_spark.engine, crawler_spark.rules; "
        "assert 'crawler_spark.zip' in u.__file__, u.__file__; "
        "print('zip-import-ok')" % ZIP
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(tmp_path), capture_output=True, text=True, check=True,
    )
    assert "zip-import-ok" in res.stdout


def _module_file(name: str) -> str | None:
    path = os.path.join(REPO, *name.split("."))
    for cand in (path + ".py", os.path.join(path, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def _imports(path: str, name: str):
    """Every dotted name a file imports, at any depth (function-local
    imports count), with relative imports resolved against ``name``."""
    with open(path) as f:
        tree = ast.parse(f.read())
    pkg = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = pkg.rsplit(".", node.level - 1)[0]
                base = f"{parent}.{base}" if base else parent
            yield base
            # ``from pkg import mod`` imports the submodule mod
            yield from (f"{base}.{a.name}" for a in node.names)


#: Kernel modules that only the contract rows and tests reach.  The list
#: may only shrink: a module that gains an entry-point caller, or is
#: deleted, leaves it (the assertion below is an equality).
UNREACHED_KERNELS = {
    "crawler_spark.functions.hreflang",
    "crawler_spark.functions.snapshots",
}


def test_every_functions_module_reachable_from_an_entry_point():
    """No Spark: walk the import graph from main.py and examples/*.py.
    A kernel module no entry point reaches is contract-only upkeep."""
    entries = [os.path.join(REPO, "main.py")] + sorted(
        glob.glob(os.path.join(REPO, "examples", "*.py")))
    todo = [(p, "__main__") for p in entries]
    reached: set[str] = set()
    while todo:
        path, name = todo.pop()
        for imp in _imports(path, name):
            parts = imp.split(".")
            for i in range(1, len(parts) + 1):  # parents import first
                mod = ".".join(parts[:i])
                f = _module_file(mod)
                if f and mod.startswith("crawler_spark") and mod not in reached:
                    reached.add(mod)
                    todo.append((f, mod))
    kernels = {
        "crawler_spark.functions." + os.path.basename(p)[:-3]
        for p in glob.glob(os.path.join(REPO, "crawler_spark", "functions", "*.py"))
        if not p.endswith("__init__.py")
    }
    assert kernels, "no kernel modules found"
    unreached = kernels - reached
    assert unreached == UNREACHED_KERNELS, (
        f"kernel modules no entry point imports: {sorted(unreached)}")
