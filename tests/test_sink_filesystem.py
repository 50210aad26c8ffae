"""The extraction job's file operations go through one ``pyarrow.fs``
filesystem (``sinks._filesystem``).  ``sinks.py`` therefore reads
nothing through Hadoop: it imports nothing from ``ioutil``, whose
store probes use the Hadoop API, touches no JVM handle and makes no
Spark read (``spark.read``), which lists its files through Hadoop."""

import ast
import pathlib

SINKS = (
    pathlib.Path(__file__).resolve().parent.parent / "pdfextract_spark" / "sinks.py"
)

# JVM handles, and ``read`` as in ``spark.read`` (a file handle's
# ``.read()`` would be flagged too; sinks.py reads files only through
# pyarrow)
_REJECTED = {"_jvm", "_jsc", "hadoopConfiguration", "read"}


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
            n in _REJECTED or "ioutil" in n.split(".") for n in names
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
        "lineage = spark.read.schema(ddl).parquet(p)\n"
        "data = fs.open_input_file(p)\n"
    )
    assert sorted(set(_second_filesystem(ast.parse(src)))) == [1, 2, 3, 4, 5, 7]
