"""The engine's environment knobs are an explicit, closed set.

Every ``os.environ.get`` / ``os.getenv`` / ``os.environ[...]`` read in
the engine package, the query corpus and the entry module is collected
from the source and compared with the allowlist below, so a new env gate
can only be added by also adding it here.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "OPSDATA_PATH",
}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_keys(path: Path) -> "list[tuple[str, int, str | None]]":
    """(file, line, key) for every env read; key is None when the key is
    not a string literal."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        key_node = None
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and _is_os_environ(f.value)) or (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                key_node = node.args[0] if node.args else None
            else:
                continue
        elif isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            key_node = node.slice
        else:
            continue
        key = (
            key_node.value
            if isinstance(key_node, ast.Constant)
            and isinstance(key_node.value, str)
            else None
        )
        found.append((str(path.relative_to(ROOT)), node.lineno, key))
    return found


def test_engine_env_knobs_match_allowlist():
    files = sorted((ROOT / "obsplus_spark").rglob("*.py"))
    files += sorted((ROOT / "corpus").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    reads = [r for p in files for r in _env_keys(p)]
    dynamic = [r for r in reads if r[2] is None]
    assert not dynamic, f"env reads with a non-literal key: {dynamic}"
    assert {r[2] for r in reads} == ALLOWED, reads
