"""Gaps-and-islands operators (SURVEY.md A2/A3/T1/T2).

The reference's pairwise char->word merge (chunks.rb:54-82) and the
partition_by/drop_while reference splitters (references.rb:32-44,68,75)
are instances of the classic lag -> gap-flag -> cumulative-sum island
pattern.  Expressed with Window functions these stay JVM-side and
shuffle exactly once on the partition keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def islands(
    df: DataFrame,
    part_cols: list[str],
    order_col: str | list[str],
    new_island: Column,
    island_col: str = "island",
) -> DataFrame:
    """Assign an island id per partition: ``new_island`` is a boolean
    column (may reference ``lag`` columns) marking rows that START a
    new island.  One shuffle on ``part_cols``.  ``order_col`` should be
    a total order (pass a list with a tie-break key)."""
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    flag = F.when(new_island, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        island_col,
        F.sum(flag).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def partition_at(
    df: DataFrame,
    part_cols: list[str],
    order_col: str | list[str],
    delimiter: Column,
    drop_leading: bool = False,
) -> DataFrame:
    """T1 partition_by: a new segment starts AT each delimiter row.
    With ``drop_leading`` (T2 drop_while), rows before the first
    delimiter are removed (segment id 0)."""
    out = islands(df, part_cols, order_col, delimiter, "segment")
    if drop_leading:
        out = out.where(F.col("segment") > 0)
    return out
