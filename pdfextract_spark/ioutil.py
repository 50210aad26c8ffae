"""IO helpers for the streaming bloom store and small driver-side
tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "hadoop_fs",
    "local_frame",
    "read_parquet_or_none",
]


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the Hadoop API, so
    store probes work on any Spark-supported filesystem, not just
    local disk."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A DataFrame over a few driver-side rows, decoded on the JVM.

    ``spark.createDataFrame(<python list>)`` builds a Python RDD, so
    every action over it runs an identity map in Python workers
    (about 0.4-0.5 s per action for a 4-row frame on local[4]).  An
    Arrow table instead becomes a ``LocalTableScan`` the JVM decodes
    itself."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


# ONLY "nothing committed yet" reads are benign: a missing path
# (PATH_NOT_FOUND), or an existing dir with no data files
# (UNABLE_TO_INFER_SCHEMA — reachable when a job crashed between
# mkdir and its first task commit).  Any other read failure (column
# resolution, catalog problems, permissions) must propagate: mapping
# it to "empty start" would silently reprocess finished work.
_BENIGN_CONDITIONS = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet store, returning None when it does not exist
    yet and re-raising every other AnalysisException.  A missing path
    is found through the filesystem, not by a failing read: a failed
    query reaches every registered query listener, and with an
    ``Observation`` in the session that logs a listener exception on
    each probe of a fresh store.  The error condition
    (``getCondition``, falling back to the deprecated
    ``getErrorClass``) classifies a failed read; message sniffing is
    the last resort for builds that expose neither."""
    from pyspark.errors import AnalysisException

    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            try:
                cond = cond or getattr(exc, attr)()
            except Exception:
                pass
        if cond in _BENIGN_CONDITIONS or (not cond and (
            "Path does not exist" in str(exc) or "Unable to infer schema" in str(exc)
        )):
            return None
        raise
