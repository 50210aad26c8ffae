"""The extraction job's file operations go through one ``pyarrow.fs``
filesystem (``sinks._filesystem``).  ``sinks.py`` therefore reads
nothing through Hadoop: it imports nothing from ``ioutil``, whose
store probes use the Hadoop API, and touches no JVM handle."""

import ast
import pathlib

SINKS = (
    pathlib.Path(__file__).resolve().parent.parent / "pdfextract_spark" / "sinks.py"
)

_JVM_HANDLES = {"_jvm", "_jsc", "hadoopConfiguration"}


def _second_filesystem(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            names = [node.module or ""] + [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.Attribute):
            names = [node.attr]
        elif isinstance(node, ast.Name):
            names = [node.id]
        else:
            continue
        if any(
            n in _JVM_HANDLES or "ioutil" in n.split(".") for n in names
        ):
            lines.append(node.lineno)
    return lines


def test_sinks_uses_no_hadoop_filesystem():
    tree = ast.parse(SINKS.read_text(), str(SINKS))
    assert _second_filesystem(tree) == []


def test_detector_flags_ioutil_and_jvm_handles():
    src = (
        "from .ioutil import read_parquet_or_none\n"
        "from . import ioutil\n"
        "import pdfextract_spark.ioutil\n"
        "conf = spark.sparkContext._jsc.hadoopConfiguration()\n"
        "path = sc._jvm.org.apache.hadoop.fs.Path(p)\n"
        "from pyarrow.fs import FileSystem\n"
    )
    assert sorted(set(_second_filesystem(ast.parse(src)))) == [1, 2, 3, 4, 5]
