"""Structure guard for the persisted-index layer (Spark-free, AST).

Index and table directories are listed, copied and swapped only through
``fsutil``'s Hadoop FileSystem helpers, JSON sidecars are parsed and
serialized only by ``fsutil.read_json``/``write_json``, and the index
contract (tombstones, id-type pinning, schema-explicit reads) is
imported from ``extensions/index_store.py``, never as a private name of
``extensions/dedup.py``.  A new local-filesystem shortcut or a new
hand-rolled sidecar parser fails here.
"""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "atlas_upscaling_dask_spark"
SIDECAR = re.compile(r"(^|/)_\w+\.json$")
JSON_CALLS = {"loads", "dumps", "load", "dump"}


def _tree(path):
    return ast.parse(path.read_text())


def _functions(tree):
    return [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]


def _sidecar_names(tree):
    """Module-level names bound to a ``_*.json`` string constant."""
    return {
        t.id
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
        and SIDECAR.search(node.value.value)
        for t in node.targets
        if isinstance(t, ast.Name)
    }


def _mentions_sidecar(fn, names):
    for node in ast.walk(fn):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and SIDECAR.search(node.value)
        ):
            return True
        if isinstance(node, ast.Name) and node.id in names:
            return True
        if isinstance(node, ast.Attribute) and node.attr == "sidecar":
            return True
    return False


def _json_call(node):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in JSON_CALLS
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "json"
    )


def test_no_local_filesystem_calls_in_index_and_table_writers():
    for rel in ("extensions/dedup.py", "sinks/writer.py"):
        bad = []
        for node in ast.walk(_tree(PKG / rel)):
            if isinstance(node, ast.Attribute) and isinstance(
                node.value, ast.Name
            ):
                if node.value.id == "os" and node.attr in ("rename", "listdir"):
                    bad.append(f"os.{node.attr}:{node.lineno}")
                if node.value.id == "shutil":
                    bad.append(f"shutil.{node.attr}:{node.lineno}")
            if isinstance(node, ast.Import | ast.ImportFrom):
                mods = [a.name for a in node.names] + [
                    getattr(node, "module", None) or ""
                ]
                if "shutil" in mods:
                    bad.append(f"import shutil:{node.lineno}")
        assert not bad, f"{rel}: {bad}"


def test_sidecar_json_only_in_fsutil_pair():
    bad = []
    for path in PKG.rglob("*.py"):
        tree = _tree(path)
        names = _sidecar_names(tree)
        for fn in _functions(tree):
            if any(_json_call(n) for n in ast.walk(fn)) and _mentions_sidecar(
                fn, names
            ):
                bad.append(f"{path.relative_to(PKG)}:{fn.name}")
    assert not bad, bad


def test_no_private_name_imported_from_dedup():
    bad = []
    for path in [*PKG.rglob("*.py"), *(ROOT / "tests").glob("*.py")]:
        for node in ast.walk(_tree(path)):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[-1] == "dedup"
            ):
                bad += [
                    f"{path.relative_to(ROOT)}:{node.lineno}:{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not bad, bad
