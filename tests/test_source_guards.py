"""Static guards over the product source: patterns that put Python workers
or hidden plan executions on the per-call path must not come back."""

import ast
import pathlib

import embulk_input_mixpanel_spark

PACKAGE = pathlib.Path(embulk_input_mixpanel_spark.__file__).parent


def _violations(tree: ast.AST, rel: str) -> list[str]:
    found = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and node.args
            and isinstance(node.args[0], ast.List)
            and not node.args[0].elts
        ):
            found.append(f"{rel}:{node.lineno} createDataFrame([], ...): use sources.lake.empty_frame")
        if isinstance(node, ast.Attribute) and node.attr == "rdd" and func != "_rebalance":
            found.append(f"{rel}:{node.lineno} .rdd outside _rebalance (runs an AQE plan's exchanges)")
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_no_python_empty_frames_or_rdd_round_trips():
    """Product code builds empty frames with ``empty_frame`` (a relation
    the optimizer folds), never ``createDataFrame([], ...)`` (a Python RDD
    whose tasks start Python workers for zero rows), and reads ``.rdd``
    only inside ``operators/dedup.py::_rebalance``, which checks first
    that the plan holds no exchange."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(PACKAGE.parent))
        found += _violations(ast.parse(path.read_text(), filename=rel), rel)
    assert found == []
