"""Static guard on the read path, no Spark: ``fs.py`` is the only module
that turns a path into a pyarrow filesystem (``resolve_database``), and
parquet data is read through ``sources.readers.scan`` (directly, or by
way of ``read_parquet`` and ``FilesystemCatalog.read``), so every read gets
the footer schema and the timestamp normalization. A direct ``spark.read…parquet(``
call is allowed only where the list below says why."""

from __future__ import annotations

import ast
import os

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dbt_parquet_spark")

# (module, function) pairs that may call spark.read…parquet( themselves,
# each under the reason it may
ALLOWED_READS = {
    # the one scan of a catalog Snapshot: plain files and directories,
    # versioned snapshots and ANN index cells alike
    ("sources/readers.py", "scan"),
    # deletion-vector sidecars, read with their fixed (file, pos) schema
    ("versioned.py", "_read_dv"),
}


def _modules():
    for d, _, names in os.walk(PACKAGE):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path) as fh:
                    yield os.path.relpath(path, PACKAGE).replace(os.sep, "/"), ast.parse(fh.read())


def _chain(node) -> list[str]:
    """The attribute and name parts of a call receiver, outermost last:
    ``spark.read.schema(s).parquet`` gives [spark, read, schema, parquet]."""
    parts = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            parts.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                parts.append(node.id)
            return parts[::-1]


def _calls(tree):
    """(enclosing function name, call chain) for every call in ``tree``."""
    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                yield fn, _chain(child.func)
            yield from visit(child, fn)

    yield from visit(tree, None)


def test_only_fs_maps_paths_to_filesystems():
    found = [
        (mod, fn, ".".join(chain))
        for mod, tree in _modules() if mod != "fs.py"
        for fn, chain in _calls(tree)
        if chain[-1:] == ["LocalFileSystem"] or "from_uri" in chain
    ]
    assert found == []


def test_parquet_reads_route_through_the_read_path():
    found = {
        (mod, fn)
        for mod, tree in _modules()
        for fn, chain in _calls(tree)
        if chain[-1:] == ["parquet"] and ("read" in chain or chain[0] == "reader")
    }
    assert found - ALLOWED_READS == set()
    assert ALLOWED_READS - found == set()  # the list names only live reads
