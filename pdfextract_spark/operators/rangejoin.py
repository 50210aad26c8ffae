"""Interval/range joins (SURVEY.md §2.3 J1 — x-interval incidence,
``lib/pdf/extract/model/regions.rb:15-25``).

The reference tests incidence of ``[x, x+width]`` intervals pairwise
inside one page.  Per turn that stays fused in the region-merge kernel,
but as a standalone *table-scale* operator a naive theta-join
(``a.lo <= b.hi AND b.lo <= a.hi``) is O(n*m) per key group — a
BroadcastNestedLoopJoin at cluster scale.  The scalable form here is
the standard **grid-bucketed range join**: explode each interval to the
grid cells it covers, hash-join on (keys, cell), re-check the exact
predicate, and emit each matching pair exactly once by keeping only the
canonical cell (the one containing ``max(a.lo, b.lo)``) — no distinct /
second shuffle needed.  With cell width ~ median interval length, each
interval covers O(1) cells, so work is O(n + m + matches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cells(lo: Column, hi: Column, width: float) -> Column:
    return F.sequence(
        F.floor(lo / F.lit(width)).cast("long"),
        F.floor(hi / F.lit(width)).cast("long"),
    )


def auto_cell_width(
    a: DataFrame,
    b: DataFrame,
    a_lo: str,
    a_hi: str,
    b_lo: str,
    b_hi: str,
    sample_fraction: float | None = None,
) -> float:
    """Data-derived grid cell width: the approximate median interval
    length across both sides (one cheap map-side-combinable agg; pass
    ``sample_fraction`` to sample first at very large inputs).

    Median-length cells keep the explode fan-out at O(1) cells per
    interval (a typical interval covers 1-2 cells) while keeping cells
    selective (a cell holds ~the intervals overlapping one median
    length) — a hand-picked constant mis-sized against the real
    distribution either multiplies the explode or degenerates the
    per-cell join toward nested loops.  Degenerate inputs (all
    zero-length intervals) clamp to 1.0."""
    lens = a.select((F.col(a_hi) - F.col(a_lo)).alias("_len")).unionAll(
        b.select((F.col(b_hi) - F.col(b_lo)).alias("_len"))
    )
    if sample_fraction is not None:
        lens = lens.sample(fraction=sample_fraction, seed=7)
    med = lens.agg(
        F.percentile_approx("_len", 0.5, 1000).alias("m")
    ).head()["m"]
    if med is None or not med > 0:
        return 1.0
    return float(med)


def interval_join(
    a: DataFrame,
    b: DataFrame,
    on: list[str],
    a_lo: str = "lo",
    a_hi: str = "hi",
    b_lo: str = "lo",
    b_hi: str = "hi",
    cell_width: float | None = None,
    tune_sample_fraction: float | None = None,
) -> DataFrame:
    """Inner join of ``a`` × ``b`` on equal ``on`` keys and closed-
    interval overlap ``a_lo <= b_hi AND b_lo <= a_hi``.

    Columns of both inputs are preserved (``on`` keys once); interval
    column names must not collide across sides (alias before calling).
    Each matching pair appears exactly once.  ``cell_width=None``
    (default) derives the grid size from the sampled median interval
    length (``auto_cell_width``) instead of trusting a constant.

    The exploded ``a`` side is always hinted as a ShuffledHashJoin
    build: when both exploded sides are large, sorting them for a
    sort-merge join is the dominant cost of the grid join (3.2 s vs
    0.9 s measured at sf0.1) and buys nothing.  Two caveats the hint
    carries: (1) a build TASK holds its whole shuffle partition — all
    (keys, cell) groups hashed to it, roughly
    |exploded a| / shuffle-partitions rows — so size
    ``spark.sql.shuffle.partitions`` for the ``a`` side (the hash
    build does not spill the way sort-merge does); (2) the hint
    preempts Spark's size-based auto-broadcast, so a tiny ``b`` side
    loses its zero-shuffle BroadcastHashJoin.

    NOTE: the autotune runs an eager aggregation job over both inputs
    at CALL time (the join itself stays lazy).  For expensive derived
    inputs, cache them first, pass ``tune_sample_fraction`` to bound
    the tuner's scan, or pass an explicit ``cell_width``.
    """
    if cell_width is None:
        cell_width = auto_cell_width(
            a, b, a_lo, a_hi, b_lo, b_hi,
            sample_fraction=tune_sample_fraction,
        )
    if not cell_width > 0:
        raise ValueError(f"cell_width must be > 0, got {cell_width}")
    # the working column must not shadow caller data: withColumn would
    # silently overwrite an existing '_cell' and the final drop would
    # remove it from the output (this operator preserves all input
    # columns, so it cannot project the way merge_intervals does)
    clash = [df_name for df_name, df in (("a", a), ("b", b))
             if "_cell" in df.columns]
    if clash:
        raise ValueError(
            f"input(s) {clash} carry a column named '_cell', which "
            f"interval_join uses as its internal grid-cell name; "
            f"rename it before calling"
        )
    ae = a.withColumn(
        "_cell", F.explode(_cells(F.col(a_lo), F.col(a_hi), cell_width))
    ).hint("shuffle_hash")
    be = b.withColumn("_cell", F.explode(_cells(F.col(b_lo), F.col(b_hi), cell_width)))
    joined = ae.join(be, [*on, "_cell"])
    overlap = (F.col(a_lo) <= F.col(b_hi)) & (F.col(b_lo) <= F.col(a_hi))
    canonical = F.col("_cell") == F.floor(
        F.greatest(F.col(a_lo), F.col(b_lo)) / F.lit(cell_width)
    ).cast("long")
    return joined.where(overlap & canonical).drop("_cell")
