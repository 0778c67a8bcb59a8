"""Source hygiene, NumPy/stdlib only (no Spark session).

(a) Every name a non-test module imports is used in that module, listed
    in its `__all__`, or marked `# noqa: F401` (a deliberate re-export).
    Package `__init__.py` files are exempt: importing is their job.
(b) `dist/qalsh_spark.zip`, the spark-submit distribution, holds exactly
    the package's `.py` files, byte for byte — rebuild it with
    `scripts/package.sh` after any change under `qalsh_spark/`.
(c) Every public top-level function or class under `qalsh_spark/` is
    referenced outside its own body by some module, job, script or test.
    A package `__init__.py` re-export is not a reference.  The match is by
    name, so a dead helper that shares its name with a live one slips by;
    it never flags live code.
"""

from __future__ import annotations

import ast
import os
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ("qalsh_spark", "jobs", "scripts")
# every directory whose code may be the one caller of a package function
REFERENCE_DIRS = SOURCE_DIRS + ("tests", "perfbench")


def _package_files(root: str = "qalsh_spark") -> list[str]:
    out = []
    for d, _dirs, files in os.walk(os.path.join(REPO, root)):
        if "__pycache__" in d:
            continue
        out += [
            os.path.relpath(os.path.join(d, f), REPO)
            for f in files
            if f.endswith(".py")
        ]
    return sorted(out)


def _non_test_modules() -> list[str]:
    mods = [f for f in os.listdir(REPO) if f.endswith(".py")]
    for root in SOURCE_DIRS:
        mods += _package_files(root)
    return sorted(
        m for m in mods
        if os.path.basename(m) != "__init__.py"
        and not os.path.basename(m).startswith("test_")
    )


def _unused_imports(path: str) -> list[str]:
    with open(path) as f:
        src = f.read()
    tree = ast.parse(src)
    lines = src.splitlines()
    imported: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        span = lines[node.lineno - 1 : node.end_lineno]
        if any("noqa: F401" in line for line in span):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            imported.setdefault(name, node.lineno)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    exported: set[str] = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            exported |= set(ast.literal_eval(node.value))
    return [
        f"{name} (line {line})"
        for name, line in sorted(imported.items(), key=lambda kv: kv[1])
        if name not in used and name not in exported
    ]


@pytest.mark.parametrize("module", _non_test_modules())
def test_every_import_is_used(module):
    unused = _unused_imports(os.path.join(REPO, module))
    assert not unused, f"{module}: unused imports {unused}"


def test_dist_zip_matches_package_sources():
    path = os.path.join(REPO, "dist", "qalsh_spark.zip")
    with zipfile.ZipFile(path) as z:
        zipped = {n: z.read(n) for n in z.namelist() if not n.endswith("/")}
    files = _package_files()
    assert sorted(zipped) == files, "zip and package file lists differ"
    stale = []
    for f in files:
        with open(os.path.join(REPO, f), "rb") as fh:
            if fh.read() != zipped[f]:
                stale.append(f)
    assert not stale, f"stale in dist/qalsh_spark.zip (run scripts/package.sh): {stale}"


def _references(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names loaded or attribute-accessed anywhere in `tree` except inside
    the `skip` node (a definition's own body)."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _unreferenced_package_defs() -> list[str]:
    trees: dict[str, ast.AST] = {}
    files = [f for f in os.listdir(REPO) if f.endswith(".py")]
    for root in REFERENCE_DIRS:
        files += _package_files(root)
    for f in files:
        if os.path.basename(f) == "__init__.py":
            continue  # a re-export is not a use
        with open(os.path.join(REPO, f)) as fh:
            trees[f] = ast.parse(fh.read())
    refs = {f: _references(t) for f, t in trees.items()}
    dead = []
    for f in _package_files():
        with open(os.path.join(REPO, f)) as fh:
            tree = ast.parse(fh.read())
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            used = any(
                node.name in (_references(t, skip=node) if g == f else refs[g])
                for g, t in trees.items()
            )
            if not used:
                dead.append(f"{f}: {node.name}")
    return dead


def test_every_package_def_is_referenced():
    dead = _unreferenced_package_defs()
    assert not dead, f"public definitions nothing references: {dead}"
