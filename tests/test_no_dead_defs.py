"""Every top-level function and class in the engine package is used.

Each top-level ``def``/``class`` in ``obsplus_spark/**/*.py`` must be
named, as a whole word, somewhere in the repository's ``.py`` files
besides its own definition: a call, an import, a test, or a mention in
a docstring. A definition nothing names is dead code and is deleted
rather than kept. Dunder names (module hooks such as ``__getattr__``)
are looked up by the interpreter, not by name, and are exempt.
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


def _top_level_defs() -> "list[tuple[str, int, str]]":
    """(file, line, name) of every top-level def/class in the package."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                found.append((str(path.relative_to(ROOT)), node.lineno, node.name))
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
