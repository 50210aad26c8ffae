"""Resumable, checkpointed extraction runs with per-bucket lineage
and metrics (BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Mechanism (parquet-backed; with Iceberg each batch commit would be a
snapshot):
- the turn keyspace is split into ``n_buckets`` stable buckets by
  ``BUCKET_HASH``; output is parquet partitioned by ``bucket``
- the job runs in batches of buckets, two in flight at a time.  Each
  batch is ONE Spark job whose action is ``collect()`` of a small
  manifest.  Its Python stage runs ``extract``'s kernel loop
  (``plans.extract.extraction_stage``) and writes each bucket's rows
  with pyarrow to
  ``<out>/_staging/<batch-uuid>/bucket=<b>/part-<partition>-<attempt>-<uuid>.parquet``,
  then returns one manifest row per (task, bucket): the file, its row
  count and its lineage sums.  Result rows never enter the JVM.
- the driver commits the batch: per scheduled bucket it deletes
  ``bucket=<b>`` and moves in exactly the files the manifest lists.  A
  failed or speculative task attempt's file is never listed, so it
  never reaches the output; it goes with the batch's staging dir,
  which is deleted next.  Last, the driver writes the batch's lineage
  rows, one per scheduled bucket, as ONE parquet file under
  ``<out>/_lineage`` — rows/chars/regions/sections/refs/errored
  turns, the ``n_buckets`` and ``bucket_hash`` pins and a commit
  time.  That file is the batch's commit marker: it appears by an
  atomic rename once the batch's output is in place.
- every file operation (staged writes, moves, deletes, the lineage
  file and the reads of it) goes through one ``pyarrow.fs``
  filesystem, resolved once per job from ``out_dir``.
- ``resume=True`` processes only buckets without a committed lineage
  row; rerunning a partially-failed job is idempotent (a bucket's
  output is replaced whole at its commit).  ``resume=False`` deletes
  the lineage and every ``bucket=*`` partition first.
"""

from __future__ import annotations

import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .plans.extract import extraction_stage
from .settings import DEFAULT, Settings
from .worker import settle_worker

LINEAGE_SUBDIR = "_lineage"
# a batch's task output until the driver commits it; underscore-
# prefixed, so reads of the output skip it
_STAGING_SUBDIR = "_staging"
# batches of one job running at once: the second hides the first's
# planning and commit; more measured no faster and widen the loss on a
# crash
_IN_FLIGHT = 2
# one row per committed bucket; the counts are over its output rows,
# the middle ones sums of the output's ``metrics`` struct fields
_METRIC_SUMS = (
    "chars_in",
    "chars_truncated",
    "regions_found",
    "sections_found",
    "refs_matched",
)
LINEAGE_COUNTS = ("rows_out", *_METRIC_SUMS, "turns_errored")
# NOT NULL is stored in the parquet footers; Spark reads every column
# back as nullable
LINEAGE_DDL = (
    "bucket int, "
    + ", ".join(f"{c} bigint NOT NULL" for c in LINEAGE_COUNTS)
    + ", n_buckets int NOT NULL, bucket_hash string NOT NULL"
    + ", committed_at double NOT NULL"
)
# what a bucket-writing task returns per bucket it wrote
_MANIFEST_DDL = (
    "bucket int, path string, "
    + ", ".join(f"{c} bigint" for c in LINEAGE_COUNTS)
)
# The bucket of a turn, as Spark SQL over its (conv_id, turn_idx).
# The hash inputs are pinned to (string, int): xxhash64 of the same
# value under a different type is a different hash (int 5 vs bigint 5
# land in different buckets, verified).  Lineage records this text as
# ``bucket_hash``, and a resume refuses lineage committed under
# another one, as it refuses another ``n_buckets``.
BUCKET_HASH = (
    "CAST(pmod(xxhash64(CAST(conv_id AS STRING), CAST(turn_idx AS INT)), "
    "n_buckets) AS INT)"
)
# Arrow bytes a writing task buffers across its bucket files before
# it writes each file's share as one row group: row groups as large as
# a task's memory allows, not one per Arrow batch
_BUFFER_BYTES = 64 << 20


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """``df`` with its ``bucket`` column, ``BUCKET_HASH`` under
    ``n_buckets``: the same turns keyed by int or bigint ``turn_idx``
    get the same bucket ids.  The job hashes its INPUT once, for
    scheduling, and carries that bucket through extraction to the
    partition write; the output is not re-hashed."""
    return df.withColumn(
        "bucket", F.expr(BUCKET_HASH.replace("n_buckets", str(int(n_buckets))))
    )


def completed_buckets(
    spark: SparkSession, out_dir: str, n_buckets: int | None = None
) -> set[int]:
    """Bucket ids with a committed lineage row, read on the driver
    through the job's ``pyarrow.fs`` filesystem: no Spark job runs.
    Only a MISSING lineage path means "nothing done yet" — any other
    read failure, e.g. a corrupt file, propagates (swallowing it would
    silently reprocess a finished job and append duplicate lineage
    rows).  Lineage recorded under a different bucketing refuses to
    resume — another ``bucket_hash`` always, another ``n_buckets`` when
    one is given: the old bucket ids would mis-assign rows under the
    new hash, silently skipping data.  So does lineage with a row
    missing either pin (committed by a build that predates it): its
    bucketing cannot be checked."""
    fs, root = _filesystem(out_dir)
    return _completed(out_dir, fs, root, n_buckets)


def _completed(out_dir: str, fs, root: str, n_buckets: int | None) -> set[int]:
    """``completed_buckets`` of ``root`` on ``fs``; ``out_dir`` names
    it in the errors."""
    table = _read_lineage(fs, root, ["bucket", "n_buckets", "bucket_hash"])
    buckets, pins, hashes = (set(c.to_pylist()) for c in table.columns)
    if None in pins or None in hashes:
        raise ValueError(
            f"lineage at {out_dir} has rows committed without the "
            f"n_buckets/bucket_hash pins, so the bucketing of its "
            f"'done' buckets cannot be checked — rerun with "
            f"resume=False or a fresh out_dir"
        )
    if n_buckets is not None:
        bad = [n for n in pins if n != n_buckets]
        if bad:
            raise ValueError(
                f"lineage at {out_dir} was committed with "
                f"n_buckets={bad[0]}; resuming with "
                f"n_buckets={n_buckets} would assign different rows to "
                f"already-'done' bucket ids — rerun with the original "
                f"bucketing or a fresh out_dir"
            )
    bad = [h for h in hashes if h != BUCKET_HASH]
    if bad:
        raise ValueError(
            f"lineage at {out_dir} was committed with "
            f"bucket_hash={bad[0]!r}; this build buckets by "
            f"{BUCKET_HASH!r}, which would assign different rows to "
            f"already-'done' bucket ids — rerun with the original "
            f"build or a fresh out_dir"
        )
    return buckets


def _read_lineage(fs, root: str, columns: list[str] | None = None):
    """The committed lineage rows under ``root`` on ``fs``, as a
    pyarrow Table under the declared schema: no rows if the lineage
    path is missing, and a column missing from a file reads as NULL.
    Hidden ``.part-*`` and ``_*`` files are skipped, as Spark's reads
    skip them; any other read failure, e.g. a corrupt file, raises."""
    import pyarrow.dataset as ds
    from pyarrow.fs import FileType

    schema = _lineage_schema()
    path = f"{root}/{LINEAGE_SUBDIR}"
    if fs.get_file_info(path).type == FileType.NotFound:
        return schema.empty_table().select(columns or schema.names)
    return ds.dataset(
        path, schema=schema, format="parquet", filesystem=fs
    ).to_table(columns=columns)


def _lineage_schema():
    """``LINEAGE_DDL`` as an Arrow schema, its NOT NULL columns
    required."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    return to_arrow_schema(StructType.fromDDL(LINEAGE_DDL))


def _filesystem(out_dir: str):
    """``(fs, root)``: the ``pyarrow.fs`` filesystem every file
    operation of a job goes through, and ``out_dir`` as ``fs``
    addresses it.  A path without a scheme is a local path, made
    absolute; it is never resolved against Hadoop's ``fs.defaultFS``.
    Raises ValueError for a scheme pyarrow cannot open (e.g. Hadoop's
    ``s3a://``)."""
    import os
    from urllib.parse import urlsplit

    import pyarrow as pa
    from pyarrow.fs import FileSystem, LocalFileSystem

    scheme = urlsplit(out_dir).scheme
    if not scheme:
        # not parsed back from the URI, which would need a space or a
        # '%' in the path escaped
        return LocalFileSystem(), os.path.abspath(out_dir)
    try:
        fs, root = FileSystem.from_uri(out_dir)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as exc:
        raise ValueError(
            f"out_dir {out_dir!r}: pyarrow.fs cannot open scheme "
            f"{scheme!r} ({exc}); use a local path or a URI pyarrow.fs "
            f"opens, e.g. file://, hdfs:// or s3://"
        ) from exc
    return fs, root.rstrip("/")


def _remove(fs, path: str) -> None:
    """Recursively delete directory ``path`` if it exists."""
    from pyarrow.fs import FileType

    if fs.get_file_info(path).type != FileType.NotFound:
        fs.delete_dir(path)


def _leaf_paths(schema, prefix: str = "") -> list[str]:
    """Parquet column paths of ``schema``'s leaves that lie outside
    every array or map."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    paths = []
    for f in schema.fields:
        if isinstance(f.dataType, StructType):
            paths += _leaf_paths(f.dataType, f"{prefix}{f.name}.")
        elif not isinstance(f.dataType, (ArrayType, MapType)):
            paths.append(prefix + f.name)
    return paths


def _bucket_writes(
    df: DataFrame, settings: Settings, want, on_error: str, fs, stage_dir: str
) -> DataFrame:
    """One batch's Python stage: ``extract``'s stage over ``df``
    (which carries ``bucket``), with each output batch written per
    bucket to ``<stage_dir>/bucket=<b>/`` instead of being returned.
    -> one ``_MANIFEST_DDL`` row per (task, bucket written), yielded
    after the task's files are closed."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    src, schema, results = extraction_stage(
        df, settings, want=want, on_error=on_error, carry=("bucket",)
    )
    # the output rows without the carried bucket, as ``extract`` types
    # them; the bucket is the directory
    data = to_arrow_schema(StructType(schema.fields[:-1]))
    manifest = to_arrow_schema(StructType.fromDDL(_MANIFEST_DDL))
    # min/max statistics only for the columns a reader can push a
    # filter down to, the leaves outside any array.  pyarrow writes a
    # long string's whole min and max into the footer and page headers:
    # with statistics on every column the output is 10% larger than
    # Spark's parquet writer writes it, with these 24% smaller (traced
    # perfbench extract_job, seed 7)
    stats = _leaf_paths(StructType(schema.fields[:-1]))

    def write(batches):
        settle_worker()
        import uuid

        from pyspark import TaskContext

        task = TaskContext.get()
        name = f"part-{task.partitionId()}-{task.attemptNumber()}"
        # bucket -> (path, writer, counts, buffered batches)
        written: dict[int, tuple] = {}
        buffered = 0

        def flush():
            for _, writer, _, buf in written.values():
                if buf:
                    writer.write_table(pa.Table.from_batches(buf, schema=data))
                    buf.clear()

        try:
            for out in results(batches):
                buckets = out.column(len(data))
                rows = pa.RecordBatch.from_arrays(out.columns[:-1], schema=data)
                for b in pc.unique(buckets).to_pylist():
                    part = rows.filter(pc.equal(buckets, b))
                    if b not in written:
                        path = f"{stage_dir}/bucket={b}/{name}-{uuid.uuid4()}.parquet"
                        fs.create_dir(f"{stage_dir}/bucket={b}")
                        writer = pq.ParquetWriter(
                            path,
                            data,
                            filesystem=fs,
                            store_schema=False,
                            write_statistics=stats,
                        )
                        written[b] = (path, writer, [0] * len(LINEAGE_COUNTS), [])
                    _, _, counts, buf = written[b]
                    buf.append(part)
                    buffered += part.nbytes
                    metrics = part.column("metrics")
                    sums = [part.num_rows]
                    sums += [
                        pc.sum(pc.struct_field(metrics, c)).as_py()
                        for c in _METRIC_SUMS
                    ]
                    sums.append(pc.sum(pc.less(part.column("page_count"), 0)).as_py())
                    for i, v in enumerate(sums):
                        counts[i] += v or 0
                if buffered >= _BUFFER_BYTES:
                    flush()
                    buffered = 0
            flush()
        finally:
            for _, writer, _, _ in written.values():
                writer.close()
        yield pa.RecordBatch.from_pylist(
            [
                {"bucket": b, "path": path, **dict(zip(LINEAGE_COUNTS, counts))}
                for b, (path, _, counts, _) in written.items()
            ],
            schema=manifest,
        )

    return src.mapInArrow(write, _MANIFEST_DDL)


def _commit_buckets(fs, root: str, batch: list[int], manifest) -> dict:
    """Replace each scheduled bucket's output by the files the batch's
    manifest lists -> ``{bucket: lineage counts}``, zeros for a bucket
    no task wrote.  Files in the staging dir that are not listed (a
    failed or speculative task attempt's) are left where they are."""
    import posixpath

    counts = {b: [0] * len(LINEAGE_COUNTS) for b in batch}
    files: dict[int, list[str]] = {b: [] for b in batch}
    for r in manifest:
        files[r["bucket"]].append(r["path"])
        counts[r["bucket"]] = [
            n + r[c] for n, c in zip(counts[r["bucket"]], LINEAGE_COUNTS)
        ]
    for b in batch:
        part = f"{root}/bucket={b}"
        # the whole bucket, not just the files it replaces: a rerun
        # must not keep a crashed attempt's rows next to its own
        _remove(fs, part)
        if files[b]:
            fs.create_dir(part)
        for path in files[b]:
            fs.move(path, f"{part}/{posixpath.basename(path)}")
    return counts


def _commit_lineage(fs, lineage_dir: str, table) -> None:
    """Commit one batch's lineage rows (a pyarrow Table) as ONE parquet
    file, written from the driver: a hidden ``.part-<uuid>.parquet``
    that is then renamed to ``part-<uuid>.parquet``.  Readers skip
    hidden files, so a crash mid-write leaves no half-written commit,
    and no Spark job is run.  The rename is the commit point."""
    import uuid

    import pyarrow.parquet as pq

    name = f"part-{uuid.uuid4()}.parquet"
    fs.create_dir(lineage_dir)
    pq.write_table(table, f"{lineage_dir}/.{name}", filesystem=fs)
    fs.move(f"{lineage_dir}/.{name}", f"{lineage_dir}/{name}")


def run_extraction_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    settings: Settings = DEFAULT,
    n_buckets: int = 64,
    buckets_per_batch: int = 16,
    resume: bool = True,
    on_error: str = "fail",
    want: tuple[str, ...] | None = None,
) -> DataFrame:
    """Extract all (remaining) buckets in batches and return the
    lineage table, read on the driver through the job's filesystem.

    ``out_dir`` must be a path ``pyarrow.fs`` opens: a local path,
    which is made absolute (on a cluster, a mount every executor
    shares), or a URI such as ``hdfs://``, ``s3://``,
    ``gs://`` or ``abfs://``.  Any other scheme, e.g. Hadoop's
    ``s3a://``, raises ValueError before a Spark job runs.  Every file
    operation of the job goes through that one filesystem, with
    pyarrow's own credentials, not ``spark.hadoop.*`` settings;
    ``hdfs://`` needs libhdfs on the driver and every executor.

    Each batch of ``buckets_per_batch`` buckets commits in four steps:

    1. Manifest by ``collect``: one Spark job runs ``extract``'s stage
       over the batch and writes each bucket's rows with pyarrow from
       the Arrow batches, under
       ``<out>/_staging/<batch-uuid>/bucket=<b>/``.  Each task returns
       one manifest row per bucket it wrote: the file, ``rows_out``,
       the five metric sums and ``turns_errored``.  Only successful
       task attempts return rows, once per partition.
    2. Moves of listed files only: per scheduled bucket the driver
       deletes ``bucket=<b>`` and moves in the files the manifest
       lists.  A failed or speculative attempt's file is never listed.
    3. The batch's staging dir is deleted, listed or not.
    4. Lineage last: one row per scheduled bucket, the manifest's sums
       (zeros for a bucket with no input rows, which must still commit
       or resume would reprocess it forever), as one parquet file.
       That file is the batch's commit marker.

    Two batches are in flight at a time, so one batch's planning and
    commit overlap the other's stage.  Batch threads inherit the
    caller's job group, description and tags.  After the first failed
    batch nothing more is submitted; the other batch in flight runs to
    its end (and commits if it succeeds), then the failure is raised.

    A batch runs as many tasks as its filtered input has splits, so a
    single-file input runs one task per batch.  Repartition such an
    input before the job, as ``extract(repartition=)`` does for
    ``extract``.

    Batches bound the blast radius of a failure: a crash loses at most
    two uncommitted batches, and ``resume=True`` picks up from the
    committed lineage rows, read on the driver through pyarrow with no
    Spark job.  A job first deletes any ``_staging`` a crashed run
    left.  ``resume=False`` also deletes the existing
    lineage and ``bucket=*`` partitions.  ``on_error`` and ``want``
    are passed to ``extract``; under ``on_error="skip"`` a bucket's
    ``turns_errored`` counts its sentinel rows.
    """
    import uuid

    import pyarrow as pa
    from pyarrow.fs import FileSelector
    from pyspark import inheritable_thread_target
    from pyspark.sql.types import StructType

    fs, root = _filesystem(out_dir)
    lineage_dir = f"{root}/{LINEAGE_SUBDIR}"
    staging_dir = f"{root}/{_STAGING_SUBDIR}"
    # required (NOT NULL) columns stay required in the written footer
    lineage_arrow = _lineage_schema()
    src = with_bucket(transcripts, n_buckets)

    _remove(fs, staging_dir)
    if resume:
        done = _completed(out_dir, fs, root, n_buckets)
    else:
        # a full reprocess starts from an EMPTY table: lineage
        # accumulates per batch (a second generation would double every
        # sum), and a bucket that is not scheduled now (beyond a
        # smaller n_buckets) would keep the old generation's rows
        _remove(fs, lineage_dir)
        for info in fs.get_file_info(FileSelector(root, allow_not_found=True)):
            if info.base_name.startswith("bucket="):
                fs.delete_dir(info.path)
        done = set()
    todo = [b for b in range(n_buckets) if b not in done]

    def run_batch(batch: list[int]) -> None:
        stage_dir = f"{staging_dir}/{uuid.uuid4()}"
        try:
            manifest = _bucket_writes(
                src.where(F.col("bucket").isin(batch)),
                settings, want, on_error, fs, stage_dir,
            ).collect()
            counts = _commit_buckets(fs, root, batch, manifest)
        finally:
            _remove(fs, stage_dir)
        committed_at = time.time()
        rows = [
            {
                "bucket": b,
                **dict(zip(LINEAGE_COUNTS, counts[b])),
                "n_buckets": n_buckets,
                "bucket_hash": BUCKET_HASH,
                "committed_at": committed_at,
            }
            for b in batch
        ]
        _commit_lineage(fs, lineage_dir, pa.Table.from_pylist(rows, lineage_arrow))

    futures, running = [], set()
    with ThreadPoolExecutor(_IN_FLIGHT) as pool:
        for i in range(0, len(todo), buckets_per_batch):
            if len(running) == _IN_FLIGHT:
                finished, running = wait(running, return_when=FIRST_COMPLETED)
                if any(f.exception() for f in finished):
                    break
            # wrapped per batch: each batch gets its own copy of the
            # caller's local properties, which a Spark job mutates
            target = inheritable_thread_target(spark)(run_batch)
            futures.append(
                pool.submit(target, todo[i : i + buckets_per_batch])
            )
            running.add(futures[-1])
    # leaving the pool waited for every batch still in flight
    for f in futures:
        f.result()
    _remove(fs, staging_dir)

    # read through the job's filesystem, as the resume reads it: a
    # Spark read would need a Hadoop filesystem for out_dir's scheme.
    # Every column nullable, as Spark reads parquet back
    return spark.createDataFrame(
        _read_lineage(fs, root),
        StructType.fromDDL(LINEAGE_DDL.replace(" NOT NULL", "")),
    )


def salted_conv_partials(result: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Phase 1 of the skew-safe conv rollup: partial aggregates per
    (conv_id, salt) so no single task ever sees a whole hot
    conversation.  Exposed separately so tests can assert the bound on
    the production salting, not a reimplementation."""
    salted = result.withColumn(
        "_salt", F.pmod(F.xxhash64("turn_idx"), F.lit(salt_buckets))
    )
    return salted.groupBy("conv_id", "_salt").agg(
        F.count("*").alias("turns"),
        F.sum("metrics.chars_in").alias("chars_in"),
        F.sum("metrics.refs_matched").alias("refs_matched"),
    )


def conv_metrics_rollup(result: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Conversation-level metric rollup with two-phase (salted)
    aggregation — the one place conv-level skew matters (SURVEY.md §4
    'Skewed long conversations'): a 10^8-turn conversation would
    hot-spot a naive groupBy(conv_id), so partials are computed per
    (conv_id, salt) first, then combined."""
    partial = salted_conv_partials(result, salt_buckets)
    return partial.groupBy("conv_id").agg(
        F.sum("turns").alias("turns"),
        F.sum("chars_in").alias("chars_in"),
        F.sum("refs_matched").alias("refs_matched"),
    )
