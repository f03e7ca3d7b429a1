"""Structure guard for ``extensions/similarity.py`` (Spark-free, AST).

Each vector-search decision lives in one function: the lowest-id seed
collect, the query collect, and the PQ subspace distance fold.  A new
copy of any of them, or a fifth driver collect, fails here.
"""

import ast
import pathlib

SRC = (
    pathlib.Path(__file__).resolve().parents[1]
    / "atlas_upscaling_dask_spark"
    / "extensions"
    / "similarity.py"
)


def _nodes():
    """(top-level function name, node) for every node in the module."""
    tree = ast.parse(SRC.read_text())
    for top in tree.body:
        name = top.name if isinstance(top, ast.FunctionDef) else None
        for node in ast.walk(top):
            yield name, node


def _method_call(node, attr):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def _owners(match):
    return {name for name, node in _nodes() if match(node)}


def test_at_most_four_driver_collects():
    # the seeds, the queries, and the two Lloyd aggregates
    n = sum(1 for _, node in _nodes() if _method_call(node, "collect"))
    assert n <= 4


def test_seed_collect_lives_in_one_function():
    def order_limit(node):
        return _method_call(node, "limit") and _method_call(
            node.func.value, "orderBy"
        )

    assert _owners(order_limit) == {"_seed_vectors"}


def test_query_collect_lives_in_one_function():
    def query_collect(node):
        if not _method_call(node, "collect"):
            return False
        sel = node.func.value
        return (
            _method_call(sel, "select")
            and isinstance(sel.func.value, ast.Name)
            and sel.func.value.id == "queries"
        )

    assert _owners(query_collect) == {"_collect_queries"}


def test_pq_distance_fold_lives_in_one_function():
    def diff_squared(node):
        return (
            isinstance(node, ast.BinOp)
            and isinstance(node.op, ast.Mult)
            and all(
                isinstance(x, ast.Name) and x.id == "diff"
                for x in (node.left, node.right)
            )
        )

    assert _owners(diff_squared) == {"_pq_nanos"}
