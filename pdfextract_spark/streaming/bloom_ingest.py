"""Bloom-accumulated streaming ingest dedup (round-5 composition).

``streaming_dedup_exact`` bounds its state by the watermark horizon —
the price of running forever on a firehose is that a duplicate
arriving LATER than the horizon is deliberately not caught.  This
module closes that gap the way a production ingest pipeline does: a
Bloom filter accumulated ACROSS batches (``operators.sketch``'s
bloom_build/bloom_merge — linear-merge set-bit tables) remembers every
text hash ever admitted, in O(n_bits) storage instead of O(distinct
keys), so a copy arriving hours or months later is still dropped.

Semantics are the honest Bloom trade, stated not hidden:

- false NEGATIVES are impossible (an admitted text's bits are all
  set, so a later exact copy always probes positive and is dropped);
- false POSITIVES occur at the designed rate ((1 - e^(-kn/m))^k): a
  genuinely NEW text is wrongly dropped with that probability.  Size
  ``n_bits`` for the expected corpus (the 10^7-item scale run in
  tools/dedup_scale.py measured 0.446% vs 0.441% design at m=2^27,
  k=4, n=10^7).  Ingest dedup tolerating ~0.5% over-drop is the
  standard regime; callers that cannot tolerate ANY loss should probe
  the filter as a PRE-filter and verify positives against the exact
  store instead of dropping outright.

Exactly-once under microbatch REPLAY (foreachBatch may re-run a batch
after a crash) is path-addressed: both the survivor output and the
batch's new filter bits land in ``.../batch_id=N`` directories written
with mode=overwrite, and the probe reads only bits from batches
``< N`` — a replayed batch therefore probes the same filter state,
recomputes the same survivors, and overwrites its own partitions
instead of appending duplicates.  (Reference checkpoint/resume
semantics: pdf-extract runs one document per process; resumability
here is the Spark-native requirement, same design as sinks.py's
lineage protocol.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import text_hash
from ..operators.sketch import bloom_build, bloom_contains

__all__ = ["bloom_ingest_batch", "start_bloom_ingest_dedup"]


def _load_bits(spark, bloom_dir: str) -> DataFrame | None:
    """The raw accumulated (batch_id, bit) store, or None when no
    batch committed bits yet.  Callers persist it for the batch: the
    rewind guard, the saturation count, and the probe join all read
    the same table, and without a cache each would re-scan every
    ``batch_id=N`` directory of a long-running ingest."""
    from ..ioutil import read_parquet_or_none

    return read_parquet_or_none(spark, bloom_dir)


def _has_batch_dirs(spark, bloom_dir: str) -> bool:
    """True when the store directory holds at least one
    ``batch_id=N`` subdir — distinguishes a WIPED store (no dirs at
    all: someone deleted bloom_dir or pointed the restart at a wrong
    path) from a store whose committed batches all had zero
    survivors (dirs exist, no readable rows — a legitimate state the
    missing-store guard must not refuse)."""
    from ..ioutil import hadoop_fs

    fs, hpath = hadoop_fs(spark, bloom_dir)
    if not fs.exists(hpath):
        return False
    return any(
        st.getPath().getName().startswith("batch_id=")
        for st in fs.listStatus(hpath)
    )


def _check_params(spark, bloom_dir: str, n_bits: int, n_hashes: int) -> None:
    """Pin (n_bits, n_hashes) to the store.  Bit positions are only
    meaningful under the parameters that computed them: restarting the
    ingest with a different ``n_bits`` would probe stored 2^27-range
    positions mod 2^20 — previously-admitted texts re-admit (dedup
    silently broken) while the mixed-modulus table inflates false
    positives.  The params row lives at ``_params`` (underscore paths
    are invisible to the bits-table read) and a mismatch raises
    instead of corrupting.  Overwritten idempotently, so a replayed
    first batch re-asserts the same row."""
    from ..ioutil import local_frame, read_parquet_or_none

    path = f"{bloom_dir}/_params"
    stored = read_parquet_or_none(spark, path)
    if stored is not None:
        row = stored.select("n_bits", "n_hashes").head()
        if row is not None:
            if (row["n_bits"], row["n_hashes"]) != (n_bits, n_hashes):
                raise ValueError(
                    f"bloom store at {bloom_dir} was built with "
                    f"n_bits={row['n_bits']}, n_hashes={row['n_hashes']} "
                    f"but this ingest was started with n_bits={n_bits}, "
                    f"n_hashes={n_hashes}; stored bit positions would be "
                    f"misread — restart with the original parameters or "
                    f"point at a fresh bloom_dir"
                )
            return
    local_frame(
        spark, [(n_bits, n_hashes)], "n_bits bigint, n_hashes bigint"
    ).write.mode("overwrite").parquet(path)


# Density past which the accumulated filter is warned saturated: at
# 50% set bits the false-positive (over-drop) rate is 0.5^k — 6.25%
# at the default k=4 and climbing fast (91% of NEW docs dropped at
# ~10^6 distinct texts under the default m=2^20).  The filter keeps
# working (false negatives stay impossible); the warning is the
# observable bound, same pattern as the LSH max_bucket_size cap.
SATURATION_WARN_DENSITY = 0.5


def bloom_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    bloom_dir: str,
    text_col: str = "text",
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> None:
    """The foreachBatch kernel: admit only texts whose normalized-text
    hash is (probably) unseen across ALL prior batches, write the
    survivors, then commit this batch's new filter bits.

    Order inside one batch: within-batch exact dedup (one row per
    hash) -> probe the prior-batch filter -> write survivors to
    ``out_dir/batch_id=N`` -> write the survivors' bits to
    ``bloom_dir/batch_id=N``.  NULL-text rows bypass the filter and
    are admitted verbatim (same contract as streaming_dedup_exact:
    NULL texts are not duplicates of each other).

    Checkpoint-rewind guard: batch ids under one checkpoint lineage
    only ever increase, so a store already holding bits from a batch
    AFTER this one means the stream was restarted against a used
    bloom_dir/out_dir with a fresh (or rolled-back) checkpoint — the
    replay contract no longer holds (batch 0 would probe an empty
    prior set, re-admit every previously-seen text, and OVERWRITE the
    original batch-0 partitions), so the batch raises instead of
    silently corrupting, same refusal pattern as sinks.py's lineage
    n_buckets pin.  Residual: a fresh checkpoint whose store holds
    ONLY batch 0 is indistinguishable from a legitimate replay of
    batch 0 (both present max_stored == current == 0); every later
    batch is protected."""
    spark = batch_df.sparkSession
    _check_params(spark, bloom_dir, n_bits, n_hashes)
    hashed = batch_df.withColumn("_h", text_hash(F.col(text_col)))
    nulls = hashed.where(F.col(text_col).isNull()).drop("_h")
    # one candidate row per distinct hash within the batch; which
    # arrival survives is arbitrary within a microbatch (same
    # contract as dropDuplicates on the hash)
    first = (
        hashed.where(F.col(text_col).isNotNull())
        .dropDuplicates(["_h"])
    )
    bits = _load_bits(spark, bloom_dir)
    if bits is None and batch_id > 0 and not _has_batch_dirs(
        spark, bloom_dir
    ):
        # the rewind guard's blind side: a MISSING store with an
        # advanced checkpoint means bloom_dir was deleted (or the
        # restart points at the wrong path) — probing nothing would
        # silently re-admit every previously-seen text, so refuse,
        # same pattern as the batch-id rewind above.  A store whose
        # committed batches all had zero survivors keeps its
        # batch_id=N dirs and passes this check.
        raise ValueError(
            f"bloom store at {bloom_dir} has no committed batch "
            f"directories but this stream is processing batch "
            f"{batch_id}: the store was deleted or the path is "
            f"wrong — cross-batch dedup state is gone, and "
            f"continuing would silently re-admit every "
            f"previously-seen text.  Restore the store, or start "
            f"over with fresh checkpoint/out/bloom paths."
        )
    if bits is not None:
        bits = bits.persist()
    try:
        if bits is not None:
            # one cached scan serves the rewind guard, the saturation
            # count, and the probe join below
            row = bits.agg(
                F.max("batch_id").alias("mx"),
                F.count_distinct(
                    F.when(F.col("batch_id") < batch_id, F.col("bit"))
                ).alias("nset"),
            ).head()
            if row["mx"] is not None and row["mx"] > batch_id:
                raise ValueError(
                    f"bloom store at {bloom_dir} already holds bits "
                    f"from batch {row['mx']} but this stream is "
                    f"processing batch {batch_id}: the checkpoint was "
                    f"reset or rolled back against a used store, which "
                    f"would re-admit previously-seen texts and "
                    f"overwrite committed output — resume from the "
                    f"original checkpoint_dir, or point the ingest at "
                    f"fresh out_dir/bloom_dir paths"
                )
            set_bits = int(row["nset"])
            if set_bits > SATURATION_WARN_DENSITY * n_bits:
                import warnings

                warnings.warn(
                    f"bloom ingest filter at {bloom_dir} is "
                    f"{set_bits / n_bits:.0%} saturated "
                    f"({set_bits}/{n_bits} bits): genuinely new "
                    f"documents are now wrongly dropped at ≥"
                    f"{(set_bits / n_bits) ** n_hashes:.1%}; re-shard "
                    f"into a larger filter (bloom_merge cannot shrink "
                    f"one)",
                    UserWarning,
                    stacklevel=2,
                )
        if bits is not None and set_bits > 0:
            # a bit stored by two batches appears twice here;
            # bloom_contains dedups its bloom side itself (the
            # false-negative guard lives in the operator), so no
            # caller-side distinct is needed
            prior = bits.where(F.col("batch_id") < batch_id).select("bit")
            novel = (
                bloom_contains(
                    prior, first.select("_h"), "_h", n_bits, n_hashes
                )
                .where(~F.col("may_contain"))
                .select("_h")
            )
            survivors = first.join(novel, "_h", "left_semi")
        else:
            survivors = first
        # fence: survivors feed BOTH writes (output + new bits) —
        # without it the probe join re-runs per write.  The first write
        # materializes it; it is released after the batch so a
        # long-running ingest never accumulates checkpoint blocks
        from ..operators.fence import fence, release_fence

        survivors = fence(survivors)
        try:
            survivors.drop("_h").unionByName(nulls).write.mode(
                "overwrite"
            ).parquet(f"{out_dir}/batch_id={batch_id}")
            bloom_build(
                survivors.select("_h"), "_h",
                n_bits=n_bits, n_hashes=n_hashes,
            ).write.mode("overwrite").parquet(
                f"{bloom_dir}/batch_id={batch_id}"
            )
        finally:
            release_fence(survivors)
    finally:
        if bits is not None:
            bits.unpersist()


def start_bloom_ingest_dedup(
    stream_df: DataFrame,
    out_dir: str,
    bloom_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    n_bits: int = 1 << 20,
    n_hashes: int = 4,
    available_now: bool = True,
):
    """The composed ingest-dedup stream: ``streaming_dedup_exact``
    (bounded-state in-horizon dedup — catches the common burst of
    copies arriving close together, keeping them out of the bloom
    path entirely) feeding the cross-batch bloom kernel via
    foreachBatch.  Returns the started StreamingQuery."""
    from .extract_stream import streaming_dedup_exact

    in_horizon = streaming_dedup_exact(
        stream_df, text_col=text_col, ts_col=ts_col, watermark=watermark
    )

    def _batch(df: DataFrame, bid: int) -> None:
        bloom_ingest_batch(
            df, bid, out_dir, bloom_dir,
            text_col=text_col, n_bits=n_bits, n_hashes=n_hashes,
        )

    writer = (
        in_horizon.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
