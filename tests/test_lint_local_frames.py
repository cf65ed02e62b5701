"""Lint: driver-built side tables go through ``jrpc.local_frame``.

``spark.createDataFrame(<list>)`` plans as a parallelized Python RDD that
runs Python-worker tasks every time a plan reading it executes;
``local_frame`` ships the same rows as an Arrow ``LocalRelation``. This
walks the package with ``ast`` and fails on any ``createDataFrame``
reference outside the helper, except the executor fan-out sites below:
frames that exist to spread per-file work across executors, where a
partitioned RDD is the point.
"""

import ast
import collections
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "duckdb_iceberg_spark"

#: (module path under the package, enclosing function) -> allowed count
ALLOWED = {
    ("jrpc.py", "local_frame"): 2,  # the helper itself
    ("sources/scan.py", "_sniff_footers"): 1,  # footer sniff fan-out
    ("sources/scan.py", "_dv_positions_df"): 1,  # DV decode past 64 blobs
    ("sources/add_files.py", "_collect_stats"): 1,  # footer stats fan-out
    ("io/arrow_data.py", "read_parquet"): 1,  # executor-side file reads
}


def _create_dataframe_refs():
    found = collections.Counter()
    where = collections.defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        stack: list[str] = []

        class Visitor(ast.NodeVisitor):
            def visit_FunctionDef(self, node):
                stack.append(node.name)
                self.generic_visit(node)
                stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Attribute(self, node):
                if node.attr == "createDataFrame":
                    key = (rel, stack[0] if stack else "<module>")
                    found[key] += 1
                    where[key].append(node.lineno)
                self.generic_visit(node)

        Visitor().visit(ast.parse(path.read_text(encoding="utf-8")))
    return found, where


def test_create_dataframe_only_in_helper_and_fan_out_sites():
    found, where = _create_dataframe_refs()
    extra = {k: where[k] for k, n in found.items() if n > ALLOWED.get(k, 0)}
    assert not extra, (
        "createDataFrame outside jrpc.local_frame (use local_frame for "
        f"driver-known rows): {extra}")


def test_allow_list_names_live_sites():
    # a stale entry would let a new call slip in under an old name
    found, _ = _create_dataframe_refs()
    assert {k for k in ALLOWED if not found.get(k)} == set()
