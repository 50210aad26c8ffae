"""Resumable, checkpointed extraction runs with per-bucket lineage
and metrics (BASELINE.json north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

Mechanism (parquet-backed; with Iceberg each batch commit would be a
snapshot):
- the turn keyspace is split into ``n_buckets`` stable buckets via
  pmod(xxhash64(conv_id, turn_idx), n); output is parquet partitioned
  by ``bucket``
- the job runs in batches of buckets, two in flight at a time.  Each
  batch is ONE Spark job: the output write (dynamic partition
  overwrite), which carries the batch's per-bucket lineage sums as
  observed metrics (``DataFrame.observe``).  The driver then commits
  the batch's lineage rows, one per scheduled bucket, as ONE parquet
  file under ``<out>/_lineage`` — rows/chars/regions/sections/refs/
  errored turns, the ``n_buckets`` pin and a commit time.  That file
  is the batch's commit marker: it is written only after the output
  write succeeded, and appears by an atomic rename.
- ``resume=True`` processes only buckets without a committed lineage
  row; rerunning a partially-failed job is idempotent (the overwrite
  replaces any partial bucket output).  ``resume=False`` deletes the
  lineage and every ``bucket=*`` partition first.
"""

from __future__ import annotations

import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .plans.extract import extract
from .settings import DEFAULT, Settings

LINEAGE_SUBDIR = "_lineage"
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
    + ", n_buckets int NOT NULL, committed_at double NOT NULL"
)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable bucket from (conv_id, turn_idx) — with the hash inputs
    pinned to (string, int) FIRST: xxhash64 of the same value under a
    different type is a different hash (int 5 vs bigint 5 land in
    different buckets, verified), so the same turns keyed by int or
    bigint ``turn_idx`` get the same bucket ids.  The job hashes its
    INPUT once, for scheduling, and carries that bucket through
    extraction to the partition write; the output is not re-hashed."""
    return df.withColumn(
        "bucket",
        F.pmod(
            F.xxhash64(
                F.col("conv_id").cast("string"),
                F.col("turn_idx").cast("int"),
            ),
            F.lit(n_buckets),
        ).cast("int"),
    )


def completed_buckets(
    spark: SparkSession, out_dir: str, n_buckets: int | None = None
) -> set[int]:
    """Bucket ids with a committed lineage row.  Only a MISSING
    lineage path means "nothing done yet" — any other read failure
    propagates (swallowing it would silently reprocess a finished job
    and append duplicate lineage rows).  When ``n_buckets`` is given,
    a lineage table recorded under a different bucketing refuses to
    resume: the old bucket ids would mis-assign rows under the new
    hash, silently skipping data."""
    # empty-start classification shared with the streaming bloom
    # store — see ioutil.is_empty_start_exc for why only missing-path
    # reads may map to "nothing committed yet"
    from .ioutil import read_parquet_or_none

    # declared schema: lineage written before the n_buckets pin reads
    # it as NULL, which the guard below skips
    lineage = read_parquet_or_none(
        spark, f"{out_dir}/{LINEAGE_SUBDIR}", LINEAGE_DDL
    )
    if lineage is None:
        return set()
    rows = lineage.select("bucket", "n_buckets").distinct().collect()
    if n_buckets is not None:
        bad = [r[1] for r in rows if r[1] is not None and r[1] != n_buckets]
        if bad:
            raise ValueError(
                f"lineage at {out_dir} was committed with "
                f"n_buckets={bad[0]}; resuming with "
                f"n_buckets={n_buckets} would assign different rows to "
                f"already-'done' bucket ids — rerun with the original "
                f"bucketing or a fresh out_dir"
            )
    return {r[0] for r in rows}


def _lineage_metrics(batch: list[int]) -> list[Column]:
    """One observed metric per bucket in ``batch``, named ``b<bucket>``:
    a struct of that bucket's lineage counts over the extraction
    output.  An empty bucket observes NULL sums, read back as 0.  Built
    as SQL text: a Column chain costs one JVM round trip per call, and
    its ~60 calls per bucket added about 0.3 s to each 4-bucket batch
    (local[4] on a 4-vCPU VM)."""
    exprs = []
    for b in batch:
        hit = f"bucket = {b}"
        fields = [f"'rows_out', count_if({hit})"]
        fields += [
            f"'{c}', sum(if({hit}, metrics.{c}, NULL))" for c in _METRIC_SUMS
        ]
        fields.append(f"'turns_errored', count_if({hit} AND page_count < 0)")
        exprs.append(F.expr(f"named_struct({', '.join(fields)})").alias(f"b{b}"))
    return exprs


def _commit_lineage(spark: SparkSession, lineage_dir: str, table) -> None:
    """Commit one batch's lineage rows (a pyarrow Table) as ONE parquet
    file, written from the driver: a hidden ``.part-<uuid>.parquet``
    that is then renamed to ``part-<uuid>.parquet``.  Readers skip
    hidden files, so a crash mid-write leaves no half-written commit,
    and no Spark job is run.  The rename is the commit point."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .ioutil import hadoop_fs

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    name = f"part-{uuid.uuid4()}.parquet"
    fs, tmp = hadoop_fs(spark, f"{lineage_dir}/.{name}")
    final = hadoop_fs(spark, f"{lineage_dir}/{name}")[1]
    out = fs.create(tmp, False)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not commit lineage file {tmp} as {final}")


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
    lineage table.

    Each batch of ``buckets_per_batch`` buckets is one Spark job: the
    output write, partitioned by ``bucket`` with dynamic partition
    overwrite (a writer option; the session's setting is never
    touched), which observes the per-bucket lineage counts while it
    writes (``DataFrame.observe``).  The counts are aggregated in the
    write's result stage, whose task updates Spark applies once per
    partition even when a task is retried, so they are exact.  The
    output is read once, by this write, so nothing is persisted.  Once
    the write and its observation succeed, the driver commits one
    lineage row per scheduled bucket as one parquet file — zeros for a
    bucket with no input rows, which must still commit or resume would
    reprocess it forever.  That file is the batch's commit marker.

    Two batches are in flight at a time, so one batch's planning and
    commit overlap the other's write.  Batch threads inherit the
    caller's job group, description and tags.  After the first failed
    batch nothing more is submitted; the other batch in flight runs to
    its end (and commits if it succeeds), then the failure is raised.

    Batches bound the blast radius of a failure: a crash loses at most
    two uncommitted batches, and ``resume=True`` picks up from the
    committed lineage rows.  ``resume=False`` deletes the existing
    lineage and ``bucket=*`` partitions first.  ``on_error`` and
    ``want`` are passed to ``extract``; under ``on_error="skip"`` a
    bucket's ``turns_errored`` counts its sentinel rows.
    """
    import pyarrow as pa
    from pyspark import inheritable_thread_target
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from .ioutil import delete_children, delete_path

    lineage_dir = f"{out_dir}/{LINEAGE_SUBDIR}"
    # required (NOT NULL) columns stay required in the written footer
    lineage_arrow = to_arrow_schema(StructType.fromDDL(LINEAGE_DDL))
    src = with_bucket(transcripts, n_buckets)

    if resume:
        done = completed_buckets(spark, out_dir, n_buckets)
    else:
        # a full reprocess starts from an EMPTY table: lineage
        # accumulates per batch (a second generation would double every
        # sum), and the dynamic overwrite only replaces partitions the
        # rerun writes — a bucket that is empty now, or beyond a
        # smaller n_buckets, would keep the old generation's rows
        delete_path(spark, lineage_dir)
        delete_children(spark, out_dir, "bucket=")
        done = set()
    todo = [b for b in range(n_buckets) if b not in done]

    def run_batch(batch: list[int]) -> None:
        result = extract(
            src.where(F.col("bucket").isin(batch)),
            settings,
            on_error=on_error,
            want=want,
            carry=("bucket",),
        )
        seen = Observation()
        result.observe(seen, *_lineage_metrics(batch)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "bucket"
        ).parquet(out_dir)
        got = seen.get
        committed_at = time.time()
        rows = [
            {
                "bucket": b,
                **{c: got[f"b{b}"][c] or 0 for c in LINEAGE_COUNTS},
                "n_buckets": n_buckets,
                "committed_at": committed_at,
            }
            for b in batch
        ]
        _commit_lineage(
            spark, lineage_dir, pa.Table.from_pylist(rows, lineage_arrow)
        )

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

    # the declared schema, not an inferred one: inference is a Spark
    # job, and lineage written before a column was added (e.g.
    # turns_errored, n_buckets) reads that column as NULL
    return spark.read.schema(LINEAGE_DDL).parquet(lineage_dir)


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
