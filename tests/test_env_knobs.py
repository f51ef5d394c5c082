"""The engine's environment knobs and boolean flags are explicit,
closed sets.

Every ``os.environ.get`` / ``os.getenv`` / ``os.environ[...]`` read in
the engine package, the query corpus and the entry module is collected
from the source and compared with the allowlist below, so a new env gate
can only be added by also adding it here. Likewise every function
parameter in the engine package whose default is a ``bool`` literal is
compared with ``BOOL_FLAGS``, so a new flag shows up as a diff here.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "OPSDATA_PATH",
}


#: (module.function, parameter) for every engine parameter defaulting to
#: a bool literal; module paths are relative to ``obsplus_spark``
BOOL_FLAGS = {
    ("functions.strings.any_glob_match", "case_insensitive"),
    ("functions.strings.glob_match", "case_insensitive"),
    ("functions.strings.glob_match_sql", "case_insensitive"),
    ("operators.dedup.phash_near_dup", "sparse_pairing"),
    ("operators.dedup.shingle_digest_array", "drop_empty"),
    ("operators.event_tree._explode_entity", "outer"),
    ("operators.event_tree.make_origins", "only_missing"),
    ("operators.event_tree.make_origins", "preferred"),
    ("operators.gaps.segments_df", "pre_merge"),
    ("operators.graph.hits_scores", "broadcast_auth"),
    ("operators.graph.k_core_peel", "broadcast_degrees"),
    ("operators.graph.k_core_peel", "require_converged"),
    ("operators.joins.asof_join", "strict"),
    ("operators.joins.cascade_delete", "broadcast_keys"),
    ("operators.joins.interval_overlap_join", "broadcast_left"),
    ("operators.joins.topk_per_group", "keep_rank"),
    ("operators.sessions.winsorized_stats", "exact"),
    ("operators.similarity.ivf_assign", "folded"),
    ("operators.surgery.attach_new_origin", "preferred"),
    ("operators.surgery.merge_events", "reject_old"),
    ("operators.surgery.merge_keyed", "reject_old"),
    ("operators.surgery.prune_rejected", "assume_forest"),
    ("operators.surgery.prune_rejected", "ids_only"),
    ("operators.validate.duplicate_picks", "include_channel"),
    ("operators.validate.validate", "no_z_amps"),
    ("plans.predicates._value_predicate", "case_insensitive"),
    ("plans.predicates.compile_filters", "case_insensitive"),
    ("sources.bank.WaveBank.get_waveforms", "merge"),
    ("sources.mseed.build_mseed_record", "big_endian"),
    ("sources.quakeml._emit_real", "is_time"),
    ("sources.quakeml.update_eventbank_from_files", "incremental"),
    ("sources.readers.read_csv", "header"),
    ("sources.summarize.update_wavebank_from_files", "incremental"),
    ("structures.datasets.DataSet.check_hashes", "check_hash"),
    ("structures.datasets.DataSet.create_sha256_hash", "hidden"),
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


def _bool_flags(path: Path, module: str) -> "set[tuple[str, str]]":
    """(module.qualname, param) for every def in ``path`` (nested and
    methods included) with a parameter defaulting to True/False."""
    found = set()

    def visit(node: ast.AST, prefix: str) -> None:
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = prefix + ch.name
                a = ch.args
                pos = a.posonlyargs + a.args
                pairs = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                pairs += zip(a.kwonlyargs, a.kw_defaults)
                for arg, d in pairs:
                    if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                        found.add((f"{module}.{name}", arg.arg))
                visit(ch, name + ".")
            elif isinstance(ch, ast.ClassDef):
                visit(ch, prefix + ch.name + ".")
            else:
                visit(ch, prefix)

    visit(ast.parse(path.read_text(), str(path)), "")
    return found


def test_boolean_flags_pinned():
    pkg = ROOT / "obsplus_spark"
    found = set()
    for p in sorted(pkg.rglob("*.py")):
        module = ".".join(p.relative_to(pkg).with_suffix("").parts)
        found |= _bool_flags(p, module)
    assert found == BOOL_FLAGS, (
        f"new: {sorted(found - BOOL_FLAGS)}, gone: {sorted(BOOL_FLAGS - found)}"
    )
