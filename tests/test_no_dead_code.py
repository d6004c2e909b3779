"""Guard against dead code regrowing in the package.

Every top-level function, class and module constant of the package
must be referenced somewhere other than its own definition: in the
package, `tests/`, `scripts/`, `bin/`, `bench*.py`, `__spark_entry__.py`
or `perfbench/`.  A reference is a loaded name, an attribute, or a
string literal equal to the name (for `getattr`/`monkeypatch.setattr`
by name); an import nothing uses, docstrings and comments do not
count.  A definition used only inside its own body (recursion) is
dead too.

Also: no package module builds module globals through `globals()[`.
"""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "osm_export_tool_python_spark")


def _package_files():
    return sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True))


def _scanned_files():
    files = _package_files()
    for pattern in ("tests/**/*.py", "scripts/**/*.py", "perfbench/**/*.py",
                    "bench*.py", "__spark_entry__.py", "bin/*"):
        files += glob.glob(os.path.join(REPO, pattern), recursive=True)
    return sorted(set(files))


def _definitions(tree):
    """(name, node) for module-level defs, classes and assigned names."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def _references(tree):
    """(name, lineno) for every use of a name in the module."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                yield n.value, n.lineno


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def unreferenced_definitions():
    trees = {p: _parse(p) for p in _scanned_files()}
    refs = {}
    for path, tree in trees.items():
        for name, line in _references(tree):
            refs.setdefault(name, []).append((path, line))
    dead = []
    for path in _package_files():
        for name, node in _definitions(trees[path]):
            if name.startswith("__") and name.endswith("__"):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            uses = [r for r in refs.get(name, ()) if not (r[0] == path and r[1] in own)]
            if not uses:
                dead.append("%s:%d %s" % (os.path.relpath(path, REPO), node.lineno, name))
    return dead


def test_every_package_definition_is_referenced():
    dead = unreferenced_definitions()
    assert not dead, "definitions nothing references:\n  " + "\n  ".join(dead)


def test_no_globals_assignment_in_package():
    hits = []
    for path in _package_files():
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                if "globals()[" in line:
                    hits.append("%s:%d" % (os.path.relpath(path, REPO), i))
    assert not hits, "globals()[ in package modules: " + ", ".join(hits)
