"""SURVEY.md J joins: containment, scanline incidence, range join, zone
assembly and the as-of join, each next to its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators import intervals
from ...sources.tables import load_table
from ..driver_queries import _ms, q


@q(
    "p10_j2_containment_join",
    """
    SELECT o.o_orderpriority, count(*) AS n
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
    """,
)
def p10_j2_containment_join(spark, sf_dir):
    """P10/J2 (spatial.rb:135-147, sections.rb:96-103): containment as
    an equi-join on the key plus range predicates; Catalyst plans the
    equi-join (broadcast/AQE) and evaluates the ranges as filters."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    joined = o.join(l, l.l_orderkey == o.o_orderkey).where(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (
            F.col("l_shipdate")
            <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
    )
    return joined.groupBy("o_orderpriority").agg(F.count("*").alias("n"))


@q(
    "j3_scanline_incidence",
    """
    WITH s AS (
      SELECT unnest(generate_series(1, 8)) AS sample_idx
    ),
    d AS (
      SELECT sample_idx,
             TIMESTAMP '1995-03-01' + INTERVAL 300 DAY * sample_idx AS sample_ts
      FROM s
    )
    SELECT d.sample_idx,
           count(*) AS n
    FROM d JOIN lineitem l
      ON l.l_shipdate <= d.sample_ts
     AND l.l_shipdate + INTERVAL 30 DAY >= d.sample_ts
    GROUP BY d.sample_idx
    """,
)
def j3_scanline_incidence(spark, sf_dir):
    """J3 (columns.rb:16-26,52-58): 8 sample scanlines joined against
    interval-carrying rows; per line, count incident intervals.  The
    scanline side is 8 rows -> broadcast; no shuffle of the big side."""
    li = load_table(spark, sf_dir, "lineitem")
    samples = spark.range(1, 9).select(
        F.col("id").cast("int").alias("sample_idx"),
        (
            F.lit("1995-03-01").cast("timestamp_ntz")
            + F.expr("make_interval(0, 0, 0, 300, 0, 0, 0) * id")
        ).alias("sample_ts"),
    )
    joined = F.broadcast(samples).crossJoin(li).where(
        (F.col("l_shipdate") <= F.col("sample_ts"))
        & (
            F.col("l_shipdate") + F.expr("INTERVAL 30 DAYS")
            >= F.col("sample_ts")
        )
    )
    return joined.groupBy("sample_idx").agg(F.count("*").alias("n"))


@q(
    "j1_interval_join",
    """
    WITH a AS (
      SELECT o_orderkey % 199 AS page,
             o_custkey % 1000 AS a_lo,
             o_custkey % 1000 + 5 + o_orderkey % 15 AS a_hi
      FROM orders
    ),
    b AS (
      SELECT l_orderkey % 199 AS page,
             l_partkey % 1000 AS b_lo,
             l_partkey % 1000 + 3 + l_suppkey % 10 AS b_hi
      FROM lineitem
    )
    SELECT a.page AS page, count(*) AS n_pairs,
           sum(least(a_hi, b_hi) - greatest(a_lo, b_lo))::BIGINT AS sum_overlap
    FROM a JOIN b ON a.page = b.page AND a_lo <= b_hi AND b_lo <= a_hi
    GROUP BY a.page
    """,
)
def j1_interval_join(spark, sf_dir):
    """J1 (regions.rb:15-25): x-interval incidence as a table-scale
    range join.  The oracle states the plain theta-join; the Spark side
    runs the grid-bucketed form (operators/rangejoin.py) — explode to
    cells, hash-join on (page, cell), exact-predicate re-check,
    canonical-cell dedupe — which keeps the join a hash join instead of
    a nested-loop at 100 TB.  Output aggregated per page so the result
    stays small at any SF."""
    from ...operators.rangejoin import interval_join

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = orders.select(
        (F.col("o_orderkey") % 199).alias("page"),
        (F.col("o_custkey") % 1000).alias("a_lo"),
        (F.col("o_custkey") % 1000 + 5 + F.col("o_orderkey") % 15).alias("a_hi"),
    )
    b = li.select(
        (F.col("l_orderkey") % 199).alias("page"),
        (F.col("l_partkey") % 1000).alias("b_lo"),
        (F.col("l_partkey") % 1000 + 3 + F.col("l_suppkey") % 10).alias("b_hi"),
    )
    pairs = interval_join(
        a, b, ["page"], a_lo="a_lo", a_hi="a_hi", b_lo="b_lo", b_hi="b_hi"
    )
    return pairs.groupBy("page").agg(
        F.count("*").alias("n_pairs"),
        F.sum(
            F.least(F.col("a_hi"), F.col("b_hi"))
            - F.greatest(F.col("a_lo"), F.col("b_lo"))
        ).alias("sum_overlap"),
    )


@q(
    "j4_zone_assembly",
    """
    WITH r AS (
      SELECT l_orderkey % 97 AS page,
             (l_linenumber * 50)::DOUBLE AS x,
             40.0::DOUBLE AS w,
             (l_partkey % 60)::DOUBLE AS y,
             (3 + l_suppkey % 8)::DOUBLE AS h
      FROM lineitem
    ),
    m AS (
      SELECT page, min(x) AS left_m, max(x + w) AS right_m,
             min(y) AS bottom_m, max(y + h) AS top_m
      FROM r GROUP BY page
    ),
    lagged AS (
      SELECT page, y AS lo, y + h AS hi,
             row_number() OVER w AS rn,
             max(y + h) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS runmax
      FROM r
      WINDOW w AS (PARTITION BY page ORDER BY y, y + h)
    ),
    isl AS (
      SELECT page, lo, hi,
             sum(CASE WHEN runmax IS NULL OR lo > runmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY page ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM lagged
    ),
    merged AS (
      SELECT page, island, min(lo) AS lo, max(hi) AS hi
      FROM isl GROUP BY page, island
    ),
    mask AS (
      SELECT page, count(*) AS n_masks,
             round(sum(hi - lo), 6) AS covered
      FROM merged GROUP BY page
    )
    SELECT m.page AS page, left_m, right_m, bottom_m, top_m,
           n_masks, covered
    FROM m JOIN mask ON m.page = mask.page
    """,
)
def j4_zone_assembly(spark, sf_dir):
    """J4 (zones.rb:27-51): per-page assembly of the four margin
    scalars (A6 extents) plus the region y-mask statistics (A4 union:
    merged-interval count and covered length) that the 1/2/3-way zone
    split (T3) consumes.  Two aggregations over one shuffle key plus a
    tiny post-agg join — no per-row Python, all codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        (F.col("l_orderkey") % 97).alias("page"),
        (F.col("l_linenumber") * 50).cast("double").alias("x"),
        F.lit(40.0).alias("w"),
        (F.col("l_partkey") % 60).cast("double").alias("y"),
        (F.col("l_suppkey") % 8 + 3).cast("double").alias("h"),
    )
    m = r.groupBy("page").agg(
        F.min("x").alias("left_m"),
        F.max(F.col("x") + F.col("w")).alias("right_m"),
        F.min("y").alias("bottom_m"),
        F.max(F.col("y") + F.col("h")).alias("top_m"),
    )
    iv = r.select(
        "page", F.col("y").alias("lo"), (F.col("y") + F.col("h")).alias("hi")
    )
    merged = intervals.merge_intervals(iv, ["page"], "lo", "hi")
    mask = merged.groupBy("page").agg(
        F.count("*").alias("n_masks"),
        F.round(F.sum(F.col("hi") - F.col("lo")), 6).alias("covered"),
    )
    return m.join(mask, "page")


@q(
    "j6_asof_join",
    """
    WITH l AS (
      SELECT event_id, user_id, epoch_ms(ts) AS ts_ms
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT event_id AS rid, user_id, epoch_ms(ts) AS ts_ms,
             round(value, 6)::DOUBLE AS quote
      FROM events WHERE event_type = 'purchase'
    ),
    u AS (
      SELECT user_id, ts_ms, 1 AS side, event_id,
             NULL::BIGINT AS rid,
             NULL::ROW(quote DOUBLE, rts BIGINT) AS m
      FROM l WHERE ts_ms IS NOT NULL
      UNION ALL
      SELECT user_id, ts_ms, 0 AS side, NULL, rid,
             row(quote, ts_ms)
      FROM r WHERE ts_ms IS NOT NULL
    ),
    c AS (
      SELECT user_id, ts_ms, side, event_id,
             last_value(m IGNORE NULLS) OVER w AS cm
      FROM u
      WINDOW w AS (
        PARTITION BY user_id
        ORDER BY ts_ms ASC NULLS LAST, side ASC, rid ASC NULLS LAST
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT event_id, user_id, ts_ms,
           cm.quote AS quote, cm.rts AS matched_ts
    FROM c WHERE side = 1
    """,
)
def j6_asof_join(spark, sf_dir):
    """As-of join (point-in-time): each click gets the user's latest
    PRECEDING purchase value.  Union + one shuffle + ordered window
    with last(ignorenulls) — never a per-row subquery; the oracle
    states the identical window so tie-breaks are engine-exact."""
    from ...operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", _ms(spark, "ts").alias("ts_ms")
    )
    right = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("rid"),
        "user_id",
        _ms(spark, "ts").alias("ts_ms"),
        F.round("value", 6).alias("quote"),
    )
    out = asof_join(
        left, right, on=["user_id"], ts_col="ts_ms",
        value_cols=["quote"], right_id_col="rid",
    )
    return out.select(
        "event_id", "user_id", "ts_ms", "quote",
        F.col("ts_ms_asof").alias("matched_ts"),
    )
