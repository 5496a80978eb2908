"""Guard against unreferenced top-level definitions in the package.

Every top-level ``def``/``class``/assignment name in
``farmrpg_etl_spark/`` (the vendored code excepted) must occur
somewhere else in the repo's ``.py`` files: a call, an import, a
registry string, a test. A name whose identifier appears only at its
own definition is dead code and fails this test. The scan is a plain
token count (no import graph), so it runs in well under a second.

Run standalone to list the offenders of another checkout:
``python tests/test_dead_code.py [repo_root]``.
"""

from __future__ import annotations

import ast
import os
import re
import sys
import time
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SKIP_DIRS = {".git", "__pycache__", "spark-warehouse", ".perfbench_run"}
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _py_files(root: str):
    for d, subdirs, files in os.walk(root):
        subdirs[:] = [s for s in subdirs if s not in _SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id


def unreferenced_names(root: str = REPO) -> list[str]:
    """``module:name`` for every package-level name whose identifier
    occurs nowhere in the repo's ``.py`` files except at its
    definition(s)."""
    pkg = os.path.join(root, "farmrpg_etl_spark")
    vendor = os.path.join(pkg, "vendor") + os.sep
    counts: Counter[str] = Counter()
    defined: dict[str, list[str]] = {}
    for path in _py_files(root):
        with open(path, encoding="utf-8") as f:
            src = f.read()
        counts.update(_IDENT.findall(src))
        if not path.startswith(pkg + os.sep) or path.startswith(vendor):
            continue
        rel = os.path.relpath(path, root)
        for name in _top_level_names(ast.parse(src, path)):
            if not (name.startswith("__") and name.endswith("__")):
                defined.setdefault(name, []).append(rel)
    return sorted(
        f"{mod}:{name}"
        for name, mods in defined.items()
        if counts[name] <= len(mods)
        for mod in mods
    )


def test_no_unreferenced_top_level_names():
    t0 = time.perf_counter()
    dead = unreferenced_names()
    elapsed = time.perf_counter() - t0
    assert dead == [], f"unreferenced top-level names: {dead}"
    assert elapsed < 5.0, f"dead-code scan took {elapsed:.2f}s"


if __name__ == "__main__":
    for entry in unreferenced_names(sys.argv[1] if len(sys.argv) > 1 else REPO):
        print(entry)
