"""Every top-level function, class, module constant and import in the
engine package and the query corpus is used.

Each top-level ``def``/``class`` and each name a top-level assignment
binds (``X = ...``, ``X: T = ...``, ``A, B = ...``) in
``obsplus_spark/**/*.py`` and ``corpus/**/*.py`` must be named, as a
whole word, somewhere in the repository's ``.py`` files besides its own
definition: a call, an import, a test, or a mention in a docstring. A
package ``__init__``'s top-level imports and ``__all__`` only re-export a
name, so they do not count as a use. A definition nothing names is dead
code and is deleted rather than kept.
Dunder names (module hooks such as ``__getattr__``, ``__all__``) are
looked up by the interpreter, not by name, and are exempt.

Every name an ``import`` binds in those packages' modules (``__init__``
modules, which exist to re-export, aside) must be read in that module.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGES = [ROOT / "obsplus_spark", ROOT / "corpus"]


def _repo_py_files() -> "list[Path]":
    return [
        p
        for p in ROOT.rglob("*.py")
        if not any(
            part.startswith(".") or part == "__pycache__"
            for part in p.relative_to(ROOT).parts
        )
    ]


def _bound_names(node: ast.stmt) -> "list[str]":
    """Names a top-level statement defines: a def/class name, or the
    plain names an assignment binds (attribute and subscript targets
    define nothing new)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
    ]


def _top_level_defs() -> "list[tuple[str, int, str]]":
    """(file, line, name) of every top-level def/class and assigned name
    in the packages."""
    found = []
    for path in sorted(p for pkg in PACKAGES for p in pkg.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            for name in _bound_names(node):
                found.append((str(path.relative_to(ROOT)), node.lineno, name))
    return found


def _reexport(node: ast.stmt) -> bool:
    """A package ``__init__`` statement that only re-exports names."""
    return isinstance(node, (ast.Import, ast.ImportFrom)) or (
        isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
    )


def _words(path: Path) -> "list[str]":
    """The words a file names, leaving out a package ``__init__``'s
    re-export statements."""
    text = path.read_text()
    if path.name == "__init__.py":
        lines = text.splitlines(keepends=True)
        for node in ast.parse(text, str(path)).body:
            if _reexport(node):
                for i in range(node.lineno - 1, node.end_lineno):
                    lines[i] = "\n"
        text = "".join(lines)
    return re.findall(r"\w+", text)


def test_every_top_level_def_is_referenced():
    words = Counter()
    for path in _repo_py_files():
        words.update(_words(path))
    defs = _top_level_defs()
    n_defs = Counter(name for _, _, name in defs)
    dead = [
        f"{file}:{line} {name}"
        for file, line, name in defs
        if not (name.startswith("__") and name.endswith("__"))
        and words[name] <= n_defs[name]
    ]
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)


def _read_names(tree: ast.Module) -> "set[str]":
    """Every name a module reads, including those inside string
    annotations (``x: "DataFrame | None"``)."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        anns = []
        if isinstance(node, (ast.arg, ast.AnnAssign)):
            anns = [node.annotation]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            anns = [node.returns]
        for ann in filter(None, anns):
            for c in ast.walk(ann):
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    names |= {
                        n.id
                        for n in ast.walk(ast.parse(c.value, mode="eval"))
                        if isinstance(n, ast.Name)
                    }
    return names


def test_every_import_is_used():
    unused = []
    for path in sorted(p for pkg in PACKAGES for p in pkg.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        read = _read_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if name not in read:
                    unused.append(
                        f"{path.relative_to(ROOT)}:{node.lineno} {name}"
                    )
    assert not unused, "imported but never used:\n" + "\n".join(unused)
