"""Every top-level function, class and module constant in the engine
package is used.

Each top-level ``def``/``class`` and each name a top-level assignment
binds (``X = ...``, ``X: T = ...``, ``A, B = ...``) in
``obsplus_spark/**/*.py`` must be named, as a whole word, somewhere in
the repository's ``.py`` files besides its own definition: a call, an
import, a test, or a mention in a docstring. A definition nothing names
is dead code and is deleted rather than kept. Dunder names (module hooks
such as ``__getattr__``, ``__all__``) are looked up by the interpreter,
not by name, and are exempt.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "obsplus_spark"


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
    in the package."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            for name in _bound_names(node):
                found.append((str(path.relative_to(ROOT)), node.lineno, name))
    return found


def test_every_top_level_def_is_referenced():
    words = Counter()
    for path in _repo_py_files():
        words.update(re.findall(r"\w+", path.read_text()))
    defs = _top_level_defs()
    n_defs = Counter(name for _, _, name in defs)
    dead = [
        f"{file}:{line} {name}"
        for file, line, name in defs
        if not (name.startswith("__") and name.endswith("__"))
        and words[name] <= n_defs[name]
    ]
    assert not dead, "defined but never referenced:\n" + "\n".join(dead)
