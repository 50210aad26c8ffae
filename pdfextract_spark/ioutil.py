"""Shared IO helpers for resumable stores and small driver-side tables.

Both resumable stores in this package (the lineage sink in
``sinks.py`` and the streaming bloom store in
``streaming/bloom_ingest.py``) need the same read classification: a
MISSING store means "nothing committed yet" and the job starts fresh,
while any OTHER read failure must propagate — mapping a real error
(column resolution, catalog problems, permissions) to "empty start"
would silently reprocess finished work and append duplicates.  The
classifier lives here once so a Spark error-condition rename is fixed
in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "hadoop_fs",
    "is_empty_start_exc",
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
# mkdir and its first task commit).
_BENIGN_CONDITIONS = {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}


def is_empty_start_exc(exc: Exception) -> bool:
    """True when ``exc`` (an AnalysisException from reading a store
    path) means the store simply does not exist yet.  Prefers the
    structured error condition (``getCondition``, falling back to the
    deprecated ``getErrorClass``); message sniffing is the last resort
    for builds that expose neither."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        getter = getattr(exc, attr, None)
        if getter is not None:
            try:
                cond = getter()
            except Exception:
                cond = None
            if cond:
                break
    if cond:
        return cond in _BENIGN_CONDITIONS
    return (
        "Path does not exist" in str(exc)
        or "Unable to infer schema" in str(exc)
    )


def read_parquet_or_none(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame | None:
    """Read a parquet store, returning None when it does not exist
    yet and re-raising every other AnalysisException.  A missing path
    is found through the filesystem, not by a failing read: a failed
    query reaches every registered query listener, and with an
    ``Observation`` in the session that logs a listener exception on
    each probe of a fresh store.  A DDL ``schema`` is read as declared
    instead of inferred (inference is a Spark job); a column missing
    from the files reads as NULL."""
    from pyspark.errors import AnalysisException

    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as exc:
        if is_empty_start_exc(exc):
            return None
        raise
