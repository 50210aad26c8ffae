"""Interval-union aggregation (SURVEY.md A4, MultiRange).

multi_range.rb:11-76 accumulates closed intervals with union-on-append
and exposes count/min/max/covered/widest/avg.  At scale this is the
lag/cumsum gaps-and-islands pattern over interval rows: sort by lo,
flag rows whose lo exceeds the running max hi, cumsum -> island id,
then aggregate per island.  One shuffle on the partition keys; all
expressions codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_intervals(
    df: DataFrame,
    part_cols: list[str],
    lo: str,
    hi: str,
    count_col: str | None = None,
) -> DataFrame:
    """-> one row per merged (union) interval with ``lo``/``hi``
    (plus, when ``count_col`` is given, the number of source intervals
    the island absorbed under that name)."""
    # project to just the needed columns: prunes the scan at scale and
    # guarantees the internal _rn/_new names cannot collide with
    # caller columns
    df = df.select(*part_cols, lo, hi)
    w = Window.partitionBy(*part_cols).orderBy(F.col(lo), F.col(hi))
    running_max = F.max(F.col(hi)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    # _rn is assigned in the SAME window evaluation as the running max,
    # and the island cumsum orders by it.  With duplicate (lo, hi) rows
    # the order key alone is not total, and a cumsum computed under a
    # SECOND sort may permute tied rows differently from the flag pass
    # (observed as a wrong merge in DuckDB at sf0.1) — keying the
    # second pass on the unique _rn makes the composition
    # deterministic, and tied rows are attribute-identical so the
    # merged result is invariant to the _rn assignment itself.
    flagged = df.select(
        "*",
        F.row_number().over(w).alias("_rn"),
        F.when(
            running_max.isNull() | (F.col(lo) > running_max), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("_new"),
    ).withColumn(
        "_island",
        F.sum("_new").over(
            Window.partitionBy(*part_cols)
            .orderBy("_rn")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    aggs = [F.min(lo).alias(lo), F.max(hi).alias(hi)]
    if count_col is not None:
        aggs.append(F.count("*").alias(count_col))
    return (
        flagged.groupBy(*part_cols, "_island")
        .agg(*aggs)
        .drop("_island")
    )
