"""SURVEY.md §2 reference operators (P projections/filters, A
aggregations, W windows/ordering, T set/partition splits, and the F9
bbox union) phrased over the TPC-H-ish tables, each next to its
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...operators import histogram, intervals, islands, ranking, scoring
from ...sources.tables import load_table
from ..driver_queries import _ms, q


@q(
    "p1_empty_filter",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE trim(text) <> '' AND n_chars >= 200
    """,
)
def p1_empty_filter(spark, sf_dir):
    """P1 (chunks.rb:111): drop blank content; pushdown-friendly."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(
        (F.trim("text") != "") & (F.col("n_chars") >= 200)
    ).select("doc_id", "n_chars")


@q(
    "p3_w4_title_top1",
    """
    WITH t AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_totalprice DESC, o_orderkey ASC
             ) AS rk
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice FROM t WHERE rk = 1
    """,
)
def p3_w4_title_top1(spark, sf_dir):
    """P3+W4 (titles.rb:29-53): deterministic top-1 per group via an
    explicit total order (earliest date, then price desc, then key)."""
    orders = load_table(spark, sf_dir, "orders")
    top = ranking.top_k(
        orders,
        ["o_custkey"],
        [
            F.col("o_orderdate").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        ],
        k=1,
    )
    return top.select("o_custkey", "o_orderkey", "o_totalprice")


@q(
    "p7_p8_flex_threshold",
    """
    WITH m AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity,
             max(l_extendedprice) OVER (PARTITION BY l_orderkey) AS mx
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM m
    WHERE l_quantity >= 25 AND l_extendedprice >= mx * 0.8
    """,
)
def p7_p8_flex_threshold(spark, sf_dir):
    """P7+P8 (references.rb:196-209): the group max is computed over
    ALL rows BEFORE the eligibility filter (the reference takes
    max_score at references.rb:196, then rejects at :201) — the window
    max must therefore precede the quantity filter."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.withColumn("_mx", F.max("l_extendedprice").over(w))
        .where(
            (F.col("l_quantity") >= 25)
            & (F.col("l_extendedprice") >= F.col("_mx") * 0.8)
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@q(
    "p9_regex_reject",
    """
    SELECT lang, count(*) AS n FROM documents
    WHERE NOT regexp_matches(lower(text),
      'references?|submitted for publication|additional contributions')
    GROUP BY lang
    """,
)
def p9_regex_reject(spark, sf_dir):
    """P9 (references.rb:225-229): substring regex reject."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where(
            ~F.lower("text").rlike(
                "references?|submitted for publication|additional contributions"
            )
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


@q(
    "a2_islands_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 600000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
      SELECT user_id, event_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    ),
    per AS (
      SELECT user_id, session_id, count(*) AS n
      FROM i GROUP BY user_id, session_id
    )
    SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_len
    FROM per GROUP BY user_id
    """,
)
def a2_islands_sessionize(spark, sf_dir):
    """A2 (chunks.rb:54-82) as gaps-and-islands sessionization: lag ->
    gap flag -> cumsum islands; one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = _ms(spark, "ts")
    prev = F.lag(ms).over(w)
    new_s = prev.isNull() | (ms - prev > 600000)
    sess = islands.islands(ev, ["user_id"], ["ts", "event_id"], new_s, "session_id")
    per = sess.groupBy("user_id", "session_id").agg(F.count("*").alias("n"))
    return per.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.max("n").alias("max_session_len"),
    )


@q(
    "a4_interval_union_stats",
    """
    WITH iv AS (
      SELECT l_suppkey,
             l_shipdate AS lo,
             l_shipdate + INTERVAL 5 DAY * l_linenumber AS hi
      FROM lineitem
    ),
    g AS (
      SELECT l_suppkey, lo, hi,
             row_number() OVER w AS rn,
             CASE WHEN max(hi) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) IS NULL
                    OR lo > max(hi) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_i
      FROM iv
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY lo, hi)
    ),
    isl AS (
      SELECT l_suppkey, lo, hi,
             sum(new_i) OVER (PARTITION BY l_suppkey ORDER BY rn
                              ROWS UNBOUNDED PRECEDING) AS island
      FROM g
    ),
    merged AS (
      SELECT l_suppkey, island, min(lo) AS lo, max(hi) AS hi
      FROM isl GROUP BY l_suppkey, island
    )
    SELECT l_suppkey,
           count(*) AS n_intervals,
           strftime(min(lo), '%Y-%m-%d') AS mask_min,
           strftime(max(hi), '%Y-%m-%d') AS mask_max,
           sum(date_diff('day', lo, hi))::BIGINT AS covered_days,
           max(date_diff('day', lo, hi)) AS widest_days
    FROM merged GROUP BY l_suppkey
    """,
)
def a4_interval_union_stats(spark, sf_dir):
    """A4 (multi_range.rb): interval union via lag/cumsum islands, then
    the MultiRange aggregate views (count/min/max/covered/widest) —
    integer day arithmetic so cross-engine equality is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        "l_suppkey",
        F.col("l_shipdate").alias("lo"),
        (
            F.col("l_shipdate")
            + F.expr("make_interval(0, 0, 0, 5, 0, 0, 0) * l_linenumber")
        ).alias("hi"),
    )
    merged = intervals.merge_intervals(iv, ["l_suppkey"], "lo", "hi")
    dd = F.datediff(F.col("hi"), F.col("lo")).cast("bigint")
    return merged.groupBy("l_suppkey").agg(
        F.count("*").alias("n_intervals"),
        F.date_format(F.min("lo"), "yyyy-MM-dd").alias("mask_min"),
        F.date_format(F.max("hi"), "yyyy-MM-dd").alias("mask_max"),
        F.sum(dd).alias("covered_days"),
        F.max(dd).alias("widest_days"),
    )


@q(
    "a6_margins_minmax",
    """
    SELECT user_id,
           min(epoch_ms(ts)) AS ts_min,
           max(epoch_ms(ts)) AS ts_max,
           round(min(value), 6)::DOUBLE AS v_min,
           round(max(value), 6)::DOUBLE AS v_max
    FROM events GROUP BY user_id
    """,
)
def a6_margins_minmax(spark, sf_dir):
    """A6 (margins.rb:46-80): margin rects reduce to axis extent
    min/max per group — a single partial-aggregated shuffle."""
    ev = load_table(spark, sf_dir, "events")
    ms = _ms(spark, "ts")
    return ev.groupBy("user_id").agg(
        F.min(ms).alias("ts_min"),
        F.max(ms).alias("ts_max"),
        F.round(F.min("value"), 6).alias("v_min"),
        F.round(F.max("value"), 6).alias("v_max"),
    )


@q(
    "a9_ideal_scoring",
    """
    WITH d AS (
      SELECT p_partkey, p_brand,
             abs(p_size - 25.0) AS d_size,
             abs(p_retailprice - 1200.0) AS d_price
      FROM part
    ),
    m AS (
      SELECT p_partkey, p_brand, d_size, d_price,
             max(d_size) OVER (PARTITION BY p_brand) AS mx_size,
             max(d_price) OVER (PARTITION BY p_brand) AS mx_price
      FROM d
    )
    SELECT p_partkey, p_brand,
           round(
             (CASE WHEN d_size = 0 THEN 6.0
                   ELSE (1 - d_size / mx_size) * 6.0 END) +
             (CASE WHEN d_price = 0 THEN 10.0
                   ELSE (1 - d_price / mx_price) * 10.0 END), 6)::DOUBLE AS score
    FROM m
    """,
)
def a9_ideal_scoring(spark, sf_dir):
    """A9 (spatial.rb:156-175): ideal-vector scoring with group-max
    normalization and the exact-zero full-weight rule, as pure window
    arithmetic."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.col("p_size").cast("double").alias("size_d"),
        F.col("p_retailprice").alias("price_d"),
    )
    scored = scoring.ideal_score(
        part,
        ["p_brand"],
        {"size_d": (25.0, 6.0), "price_d": (1200.0, 10.0)},
        "score_raw",
    )
    return scored.select(
        "p_partkey", "p_brand", F.round("score_raw", 6).alias("score")
    )


@q(
    "a10_second_most_frequent",
    """
    WITH f AS (
      SELECT p_brand, CAST(floor(p_size / 5.0) AS BIGINT) AS value,
             count(*) AS cnt
      FROM part GROUP BY p_brand, 2
    ),
    r AS (
      SELECT p_brand, value, cnt,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY cnt DESC, value DESC) AS rk
      FROM f
    )
    SELECT p_brand, value AS delimiter, cnt AS delimiter_count
    FROM r WHERE rk = 2
    """,
)
def a10_second_most_frequent(spark, sf_dir):
    """A10 (references.rb:46-64): the 2nd-most-frequent floored value
    with a deterministic (count desc, value desc) tie order."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", (F.col("p_size") / 5.0).alias("v")
    )
    out = histogram.nth_most_frequent(part, ["p_brand"], "v", 2)
    return out.select("p_brand", "delimiter", F.col("delimiter_count"))


@q(
    "a11_argmax_vote",
    """
    WITH f AS (
      SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
             count(*) AS cnt
      FROM events GROUP BY event_type, 2
    ),
    r AS (
      SELECT event_type, bucket, cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cnt DESC, bucket ASC) AS rk
      FROM f
    )
    SELECT event_type, bucket, cnt AS n FROM r WHERE rk = 1
    """,
)
def a11_argmax_vote(spark, sf_dir):
    """A11 (references.rb:86-112): most-frequent-key vote with a
    deterministic tie-break."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") / 10).alias("bucket")
    )
    out = histogram.argmax_vote(ev, ["event_type"], "bucket")
    return out.select("event_type", "bucket", F.col("count").alias("n"))


@q(
    "w5_lag_spacing",
    """
    SELECT event_id,
           epoch_ms(ts) - epoch_ms(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
    FROM events
    """,
)
def w5_lag_spacing(spark, sf_dir):
    """W5 (regions.rb:35-43): per-row spacing = gap to the previous row
    in partition order (line spacing analog)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = _ms(spark, "ts")
    return ev.select(
        "event_id",
        (ms - F.lag(ms).over(w)).alias("gap_ms"),
    )


@q(
    "w6_keep_group_max",
    """
    WITH f AS (
      SELECT p_brand, p_size, count(*) AS cnt
      FROM part GROUP BY p_brand, p_size
    ),
    m AS (
      SELECT p_brand, p_size, cnt, max(cnt) OVER (PARTITION BY p_brand) AS mx
      FROM f
    )
    SELECT p_brand, p_size, cnt FROM m WHERE cnt = mx
    """,
)
def w6_keep_group_max(spark, sf_dir):
    """W6 (columns.rb:74-79): keep rows at the group max (column-count
    ranking step)."""
    part = load_table(spark, sf_dir, "part")
    f = part.groupBy("p_brand", "p_size").agg(F.count("*").alias("cnt"))
    return ranking.keep_group_max(f, ["p_brand"], "cnt").select(
        "p_brand", "p_size", "cnt"
    )


@q(
    "t1_t2_partition_at",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_d
      FROM events
    ),
    i AS (
      SELECT user_id, event_id,
             sum(is_d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS segment
      FROM g
    )
    SELECT user_id, segment, count(*) AS n, min(event_id) AS first_event
    FROM i WHERE segment > 0
    GROUP BY user_id, segment
    """,
)
def t1_t2_partition_at(spark, sf_dir):
    """T1+T2 (references.rb:32-44,68): segments start AT delimiter rows
    ('error' events); rows before the first delimiter dropped."""
    ev = load_table(spark, sf_dir, "events")
    seg = islands.partition_at(
        ev, ["user_id"], ["ts", "event_id"], F.col("event_type") == "error", drop_leading=True
    )
    return seg.groupBy("user_id", "segment").agg(
        F.count("*").alias("n"), F.min("event_id").alias("first_event")
    )


@q(
    "t3_case_split",
    """
    WITH s AS (
      SELECT user_id, count(DISTINCT event_type) AS k, count(*) AS n
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN k < 2 THEN 'body'
                WHEN k < 3 THEN 'split2'
                ELSE 'split3' END AS zone,
           n
    FROM s
    """,
)
def t3_case_split(spark, sf_dir):
    """T3 (zones.rb:55-113): the 1/2/3-way case split as when/otherwise
    over aggregated group stats."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("k"), F.count("*").alias("n")
    )
    return s.select(
        "user_id",
        F.when(F.col("k") < 2, "body")
        .when(F.col("k") < 3, "split2")
        .otherwise("split3")
        .alias("zone"),
        "n",
    )


@q(
    "a1_exact_key_grouping",
    """
    SELECT user_id, value, count(*) AS n, min(event_id) AS first_event
    FROM events GROUP BY user_id, value
    """,
)
def a1_exact_key_grouping(spark, sf_dir):
    """A1 (chunks.rb:35-45): row bucketing on an EXACT float key — the
    reference keys char rows on raw float y; grouping by a double is
    exact in both engines (no epsilon)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "value").agg(
        F.count("*").alias("n"), F.min("event_id").alias("first_event")
    )


@q(
    "f9_bbox_union",
    """
    SELECT l_orderkey,
           min(l_quantity) AS x1,
           max(l_quantity + l_discount * 10) AS x2,
           min(l_extendedprice) AS y1,
           round(max(l_extendedprice + l_tax * 100), 6)::DOUBLE AS y2
    FROM lineitem GROUP BY l_orderkey
    """,
)
def f9_bbox_union(spark, sf_dir):
    """F9 (spatial.rb:43-73): bbox union = min of lower corners / max of
    upper corners per group — least/greatest arithmetic, one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.min("l_quantity").alias("x1"),
        F.max(F.col("l_quantity") + F.col("l_discount") * 10).alias("x2"),
        F.min("l_extendedprice").alias("y1"),
        F.round(
            F.max(F.col("l_extendedprice") + F.col("l_tax") * 100), 6
        ).alias("y2"),
    )


@q(
    "w3_ordered_rank",
    """
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC)
             AS rk
    FROM orders
    """,
)
def w3_ordered_rank(spark, sf_dir):
    """W1-W3 (sorted insert / output orders): stable total-order ranking
    within groups — the declarative replacement for the reference's
    sorted-insert loops."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey", "o_orderkey", F.row_number().over(w).alias("rk")
    )


@q(
    "a3_overlap_merge",
    """
    WITH r AS (
      SELECT l_orderkey * 10 + l_linenumber AS rid,
             l_orderkey % 97 AS page,
             (l_linenumber * 100.0)::DOUBLE AS x,
             (l_partkey % 30)::DOUBLE AS y,
             (5 + l_suppkey % 10)::DOUBLE AS h
      FROM lineitem
    ),
    lagged AS (
      SELECT *, lag(y) OVER w AS py, lag(h) OVER w AS ph,
             row_number() OVER w AS rn
      FROM r WINDOW w AS (PARTITION BY page ORDER BY x, rid, y, h)
    ),
    flagged AS (
      SELECT *,
        CASE WHEN py IS NULL THEN 1
             WHEN greatest(0.0, least(y + h, py + ph) - greatest(y, py))
                  / least(h, ph) >= 0.9 THEN 0
             ELSE 1 END AS flag
      FROM lagged
    ),
    isl AS (
      SELECT *, sum(flag) OVER (PARTITION BY page ORDER BY rn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS island
      FROM flagged
    )
    SELECT page, island, count(*) AS members,
           min(x) AS x0, round(min(y), 6) AS y0, round(max(y + h), 6) AS y1
    FROM isl GROUP BY page, island
    """,
)
def a3_overlap_merge(spark, sf_dir):
    """A3 (chunks.rb:85-107): cross-row overlap merge as a pure-SQL
    islands pass — lag the previous bbox in x-order, flag y-overlap
    ratio < overlap_slop (0.9) as an island start, cumsum ids, merge
    per island with the F9 bbox union.  One shuffle on page; all window
    arithmetic stays in whole-stage codegen.  (The reference's exact
    sequential pairwise variant lives in core/chunks.py and is pinned
    by test_overlap_merge_cross_rows; this is the scalable form.)"""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        (F.col("l_orderkey") % 97).alias("page"),
        (F.col("l_linenumber") * 100.0).alias("x"),
        (F.col("l_partkey") % 30).cast("double").alias("y"),
        (F.col("l_suppkey") % 10 + 5).cast("double").alias("h"),
    )
    # (l_orderkey, l_linenumber) is not unique in the synthetic data, so
    # rid alone is not a total order; adding (y, h) makes any remaining
    # ties fully-identical rows, for which lag order cannot matter.
    w = Window.partitionBy("page").orderBy("x", "rid", "y", "h")
    # rn in the same window evaluation as the lags; the island cumsum
    # orders by it so duplicate rows cannot be permuted between the
    # flag pass and the cumsum pass (see intervals.merge_intervals)
    r = r.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.lag("y").over(w).alias("py"),
        F.lag("h").over(w).alias("ph"),
    )
    ratio = (
        F.greatest(
            F.lit(0.0),
            F.least(F.col("y") + F.col("h"), F.col("py") + F.col("ph"))
            - F.greatest(F.col("y"), F.col("py")),
        )
        / F.least(F.col("h"), F.col("ph"))
    )
    out = islands.islands(
        r, ["page"], ["rn"], F.col("py").isNull() | (ratio < 0.9)
    )
    return out.groupBy("page", "island").agg(
        F.count("*").alias("members"),
        F.min("x").alias("x0"),
        F.round(F.min("y"), 6).alias("y0"),
        F.round(F.max(F.col("y") + F.col("h")), 6).alias("y1"),
    )


@q(
    "w8_collapse_order",
    """
    WITH c AS (
      SELECT l_orderkey * 10 + l_linenumber AS rid,
             l_orderkey % 53 AS page,
             (l_suppkey % 200)::DOUBLE AS x,
             (l_partkey % 50)::DOUBLE AS y
      FROM lineitem
    )
    SELECT rid, page,
           round(-(floor(y) * 100) + x / 100, 6) AS write_key,
           row_number() OVER (PARTITION BY page
                              ORDER BY -(floor(y) * 100) + x / 100, rid)
             AS write_order
    FROM c
    """,
)
def w8_collapse_order(spark, sf_dir):
    """W8 (spatial.rb:116-133): the collapse utility's write-order key
    -(floor(y)*100)+x/100 (top-left reading order) as a ranking window;
    WindowGroupLimit-free full rank, deterministic tie-break on rid."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        (F.col("l_orderkey") % 53).alias("page"),
        (F.col("l_suppkey") % 200).cast("double").alias("x"),
        (F.col("l_partkey") % 50).cast("double").alias("y"),
    )
    key = -(F.floor("y") * 100) + F.col("x") / 100
    return c.select(
        "rid",
        "page",
        F.round(key, 6).alias("write_key"),
        F.row_number()
        .over(Window.partitionBy("page").orderBy(key.asc(), F.col("rid").asc()))
        .alias("write_order"),
    )


@q(
    "p4_p6_section_flags",
    """
    WITH r AS (
      SELECT p_partkey AS rid,
             p_partkey % 101 AS page,
             ((p_size % 40) * 10 + 30)::DOUBLE AS width,
             (10 + p_partkey % 5)::DOUBLE AS height,
             ((p_partkey % 7) * 1.5 + 10)::DOUBLE AS line_height,
             400.0 AS col_width
      FROM part
    ),
    flagged AS (
      SELECT *,
        CASE WHEN width <= col_width AND width / col_width >= 0.9
             THEN 1 ELSE 0 END AS is_candidate,
        CASE WHEN NOT (width <= col_width AND width / col_width >= 0.9)
                  AND width >= height
             THEN 1 ELSE 0 END AS is_possible_header,
        lag(width) OVER w AS pw,
        lag(line_height) OVER w AS plh
      FROM r WINDOW w AS (PARTITION BY page ORDER BY rid)
    )
    SELECT rid, page, is_candidate, is_possible_header,
           CASE WHEN pw IS NOT NULL
                     AND abs(width - pw) / ((width + pw) / 2) <= 0.1
                     AND round(line_height, 2) = round(plh, 2)
                THEN 1 ELSE 0 END AS matches_prev
    FROM flagged
    """,
)
def p4_p6_section_flags(spark, sf_dir):
    """P4/P5/P6 (sections.rb:15-42): the three section-assembly
    predicates as pure column expressions — candidate (width within
    column and >= width_ratio 0.9 of it), possible-header (narrower but
    wider than tall), and width+font match vs the previous region via
    lag (widths within 10% of their mean, round(line_height,2) equal).
    All whole-stage codegen; one shuffle for the lag window."""
    part = load_table(spark, sf_dir, "part")
    r = part.select(
        F.col("p_partkey").alias("rid"),
        (F.col("p_partkey") % 101).alias("page"),
        ((F.col("p_size") % 40) * 10 + 30).cast("double").alias("width"),
        (F.col("p_partkey") % 5 + 10).cast("double").alias("height"),
        ((F.col("p_partkey") % 7) * 1.5 + 10).cast("double").alias("line_height"),
        F.lit(400.0).alias("col_width"),
    )
    cand = (F.col("width") <= F.col("col_width")) & (
        F.col("width") / F.col("col_width") >= 0.9
    )
    w = Window.partitionBy("page").orderBy("rid")
    flagged = r.select(
        "rid",
        "page",
        F.when(cand, 1).otherwise(0).alias("is_candidate"),
        F.when(~cand & (F.col("width") >= F.col("height")), 1)
        .otherwise(0)
        .alias("is_possible_header"),
        "width",
        "line_height",
        F.lag("width").over(w).alias("pw"),
        F.lag("line_height").over(w).alias("plh"),
    )
    match = (
        F.col("pw").isNotNull()
        & (
            F.abs(F.col("width") - F.col("pw"))
            / ((F.col("width") + F.col("pw")) / 2)
            <= 0.1
        )
        & (F.round("line_height", 2) == F.round("plh", 2))
    )
    return flagged.select(
        "rid",
        "page",
        "is_candidate",
        "is_possible_header",
        F.when(match, 1).otherwise(0).alias("matches_prev"),
    )


@q(
    "f12_margin_split",
    """
    WITH lines AS (
      SELECT event_id AS line_id,
             user_id % 500 AS doc,
             CAST(floor(value) AS BIGINT) % 40 AS x_floor
      FROM events
    ),
    freq AS (
      SELECT doc, x_floor, count(*) AS cnt
      FROM lines GROUP BY doc, x_floor
    ),
    delim AS (
      SELECT doc, x_floor AS delim_x
      FROM (
        SELECT doc, x_floor, row_number() OVER (
          PARTITION BY doc ORDER BY cnt DESC, x_floor DESC) AS rk
        FROM freq
      ) WHERE rk = 2
    ),
    flagged AS (
      SELECT l.doc, l.line_id,
             CASE WHEN d.delim_x IS NOT NULL AND l.x_floor = d.delim_x
                  THEN 1 ELSE 0 END AS is_delim
      FROM lines l LEFT JOIN delim d ON l.doc = d.doc
    ),
    seg AS (
      SELECT doc, line_id,
             sum(is_delim) OVER (PARTITION BY doc ORDER BY line_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS segment
      FROM flagged
    )
    SELECT doc, segment, count(*) AS n_lines,
           min(line_id) AS first_line
    FROM seg WHERE segment > 0
    GROUP BY doc, segment
    """,
)
def f12_margin_split(spark, sf_dir):
    """F12 (references.rb:66-78): the margin splitter composed from its
    parts — A10 second-most-frequent floor(x_offset) per doc picks the
    delimiter offset, T1 partition_at splits the line sequence at each
    delimiter line, T2 drop_while removes lines before the first
    delimiter (segment 0).  The delimiter table is doc-keyed — one row
    per doc, so it GROWS with the corpus and must not broadcast; the
    shuffle equi-join on doc co-partitions with the islands window
    that follows (same key), so the exchange is reused, and AQE may
    still pick a broadcast at small scale on its own."""
    events = load_table(spark, sf_dir, "events")
    lines = events.select(
        F.col("event_id").alias("line_id"),
        (F.col("user_id") % 500).alias("doc"),
        (F.floor("value").cast("long") % 40).alias("x_floor"),
    )
    delim = (
        histogram.nth_most_frequent(
            lines.select("doc", F.col("x_floor").cast("double").alias("v")),
            ["doc"],
            "v",
            2,
        )
        .select("doc", F.col("delimiter").alias("delim_x"))
    )
    flagged = lines.join(delim, "doc", "left").select(
        "doc",
        "line_id",
        (
            F.col("delim_x").isNotNull()
            & (F.col("x_floor") == F.col("delim_x"))
        ).alias("is_delim"),
    )
    seg = islands.partition_at(
        flagged, ["doc"], "line_id", F.col("is_delim"), drop_leading=True
    )
    return seg.groupBy("doc", "segment").agg(
        F.count("*").alias("n_lines"), F.min("line_id").alias("first_line")
    )
