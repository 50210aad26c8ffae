"""Small driver-side tables go through ``ioutil.local_frame``:
``createDataFrame`` over a Python list builds a Python RDD, and every
action over it then runs an identity map in Python workers."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "pdfextract_spark"

_LITERALS = (ast.List, ast.ListComp, ast.Tuple, ast.GeneratorExp)


def _literal_frames(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            data = node.args[:1] + [k.value for k in node.keywords if k.arg == "data"]
            if any(isinstance(d, _LITERALS) for d in data):
                lines.append(node.lineno)
    return lines


def test_no_python_list_frames_in_package():
    found = {
        str(p.relative_to(PACKAGE.parent)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _literal_frames(ast.parse(p.read_text(), str(p))))
    }
    assert found == {}, f"use ioutil.local_frame instead: {found}"


def test_detector_flags_list_literal_and_comprehension():
    src = (
        "spark.createDataFrame([(1,)], 'a int')\n"
        "spark.createDataFrame([(b,) for b in bs], 'a int')\n"
        "spark.createDataFrame(data=[(1,)], schema='a int')\n"
        "spark.createDataFrame(table, schema)\n"
    )
    assert _literal_frames(ast.parse(src)) == [1, 2, 3]
