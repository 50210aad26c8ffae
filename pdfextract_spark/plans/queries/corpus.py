"""Corpus statistics: stratified sampling, length quantiles, top terms,
the hypertable rollup and the count-min / Bloom sketches, each next to
its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ...ioutil import local_frame
from ...sources.tables import load_table
from ..driver_queries import _NORM_SPARK, _NORM_SQL, q


@q(
    "sample_stratified_hash",
    """
    SELECT source, count(*) AS n_sampled,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM documents
    WHERE substring(md5(
            'v' || length(source) || ':' || source ||
            '#v' || length(doc_id::VARCHAR) || ':' || doc_id
          ), 8, 1)
          IN ('0', '1', '2', '3')
    GROUP BY source
    """,
)
def sample_stratified_hash(spark, sf_dir):
    """Deterministic stratified sampling (training-data op): md5-hash
    cut keeps the same 25% of each source on every run/engine —
    reproducible under retries and resumable jobs, unlike df.sample.
    The compound key is length-prefix encoded (sampling._part) so a
    separator character inside a stratum or key value cannot alias
    two different (stratum, key) pairs; the oracle spells the same
    encoding out inline.  (bucket < 4 of 16 on the first-8-hex-chars
    hash is exactly '8th hex char in 0..3', which is how the oracle
    states it.)"""
    from ...operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    s = stratified_hash_sample(docs, "source", "doc_id", rate_buckets=4)
    return s.groupBy("source").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@q(
    "corpus_length_quantiles",
    f"""
    WITH t AS (
      SELECT source, doc_id,
             len(string_split({_NORM_SQL}, ' ')) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT source, n_tokens,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tokens, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM t
    )
    SELECT source,
           max(n) AS n_docs,
           max(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN n_tokens END) AS p50,
           max(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN n_tokens END) AS p90
    FROM r GROUP BY source
    """,
)
def corpus_length_quantiles(spark, sf_dir):
    """Corpus length statistics: EXACT discrete per-source token-count
    quantiles via rank selection (engine-portable, unlike
    percentile_approx whose sketch differs per engine).  One window +
    one aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.expr(_NORM_SPARK), " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    r = t.select(
        "source",
        "n_tokens",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("source")).alias("n"),
    )
    pick = lambda p: F.max(
        F.when(
            F.col("rk") == F.ceil(F.col("n") * p).cast("bigint"),
            F.col("n_tokens"),
        )
    )
    return r.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        pick(0.5).alias("p50"),
        pick(0.9).alias("p90"),
    )


@q(
    "top_terms_per_source",
    f"""
    WITH w AS (
      SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents
    ),
    c AS (
      SELECT source, term, count(*) AS cnt
      FROM w WHERE term <> '' GROUP BY source, term
    ),
    r AS (
      SELECT source, term, cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY cnt DESC, term ASC) AS rk
      FROM c
    )
    SELECT source, term, cnt, rk FROM r WHERE rk <= 3
    """,
)
def top_terms_per_source(spark, sf_dir):
    """Per-source top-k terms (corpus vocabulary profile): explode ->
    partial-aggregated count -> WindowGroupLimit top-3 with a
    deterministic tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "source",
        F.explode(F.split(F.expr(_NORM_SPARK), " ")).alias("term"),
    ).where(F.col("term") != "")
    c = w.groupBy("source", "term").agg(F.count("*").alias("cnt"))
    wk = Window.partitionBy("source").orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    return (
        c.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= 3)
        .select("source", "term", "cnt", "rk")
    )


@q(
    "hypertable_rollup",
    """
    WITH e AS (
      SELECT event_type,
             epoch_ms(date_trunc('day', ts)::TIMESTAMP) AS day_ms,
             epoch_ms(date_trunc('hour', ts)::TIMESTAMP) AS hour_ms,
             floor(value * 100)::BIGINT AS cents
      FROM events
    )
    SELECT event_type, day_ms, hour_ms,
           grouping(day_ms)::INT AS g_day,
           grouping(hour_ms)::INT AS g_hour,
           count(*) AS n, sum(cents)::BIGINT AS cents
    FROM e
    GROUP BY event_type, ROLLUP(day_ms, hour_ms)
    """,
)
def hypertable_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: per-hour, per-day, and
    per-type totals in ONE pass via partial ROLLUP grouping sets (the
    TimescaleDB continuous-aggregate shape, Catalyst-native — partial
    aggregation covers every granularity inside the same shuffle;
    grouping() flags disambiguate rolled-up NULLs).  Integer cents
    keep cross-engine sums exact in any aggregation order."""
    ev = load_table(spark, sf_dir, "events")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    e = ev.select(
        "event_type",
        F.unix_millis(
            F.date_trunc("day", F.col("ts").cast("timestamp"))
        ).alias("day_ms"),
        F.unix_millis(
            F.date_trunc("hour", F.col("ts").cast("timestamp"))
        ).alias("hour_ms"),
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # templated DataFrame reference (no session temp-view side effects)
    return spark.sql(
        """
        SELECT event_type, day_ms, hour_ms,
               CAST(grouping(day_ms) AS INT) AS g_day,
               CAST(grouping(hour_ms) AS INT) AS g_hour,
               count(*) AS n, sum(cents) AS cents
        FROM {e}
        GROUP BY event_type, ROLLUP(day_ms, hour_ms)
        """,
        e=e,
    )


# the corpus term stream: every non-empty normalized word
_TERMS_SQL = f"""
    w AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS term
      FROM documents
    ),
    terms AS (SELECT term FROM w WHERE term <> '')"""


@q(
    "sketch_count_min",
    f"""
    WITH {_TERMS_SQL},
    cells AS (
      SELECT d.d AS depth,
             ('0x' || substring(md5(term || '#' || (d.d // 2)),
                                (d.d % 2) * 12 + 1, 12))::BIGINT
               % 256 AS bucket
      FROM terms, (SELECT unnest(generate_series(0, 3)) AS d) d
    ),
    sk AS (
      SELECT depth, bucket, count(*) AS cnt
      FROM cells GROUP BY depth, bucket
    ),
    probes AS (
      SELECT q.term, d.d AS depth,
             ('0x' || substring(md5(q.term || '#' || (d.d // 2)),
                                (d.d % 2) * 12 + 1, 12))::BIGINT
               % 256 AS bucket
      FROM (SELECT unnest(['the','of','data','zyzzyva_absent']) AS term) q,
           (SELECT unnest(generate_series(0, 3)) AS d) d
    )
    SELECT p.term, min(coalesce(sk.cnt, 0)) AS est_count
    FROM probes p LEFT JOIN sk USING (depth, bucket)
    GROUP BY p.term
    """,
)
def sketch_count_min(spark, sf_dir):
    """Count-min sketch of the corpus term stream (4 x 256 cells)
    probed for three common terms and one absent term; cells are
    md5-derived so the oracle rebuilds the identical sketch.  The
    build pre-aggregates the stream to (term, count) before hashing
    (cms_build default), so md5 cost scales with DISTINCT terms — and
    the raw text is NOT pre-spread: tokenize-and-count is far cheaper
    than shuffling full text, and at warehouse scale scan parallelism
    comes from splits anyway (2.2x measured together at sf0.1)."""
    from ...operators.sketch import cms_build, cms_point_query

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(F.expr(_NORM_SPARK), " ")).alias("term")
    ).where(F.col("term") != "")
    sk = cms_build(terms, "term", depth=4, width=256)
    probes = local_frame(
        spark, [("the",), ("of",), ("data",), ("zyzzyva_absent",)], "term string"
    )
    return cms_point_query(sk, probes, "term", depth=4, width=256)


@q(
    "sketch_bloom",
    f"""
    WITH {_TERMS_SQL},
    bits AS (
      SELECT DISTINCT
             ('0x' || substring(md5(term || '#' || (h.i // 2)),
                                (h.i % 2) * 12 + 1, 12))::BIGINT
               % 4096 AS bit
      FROM terms, (SELECT unnest(generate_series(0, 3)) AS i) h
    ),
    probes AS (
      SELECT q.term,
             ('0x' || substring(md5(q.term || '#' || (h.i // 2)),
                                (h.i % 2) * 12 + 1, 12))::BIGINT
               % 4096 AS bit
      FROM (SELECT unnest(['the','of','data','zyzzyva_absent']) AS term) q,
           (SELECT unnest(generate_series(0, 3)) AS i) h
    )
    SELECT p.term, (count(b.bit) = 4) AS may_contain
    FROM probes p LEFT JOIN bits b USING (bit)
    GROUP BY p.term
    """,
)
def sketch_bloom(spark, sf_dir):
    """Bloom filter over the corpus term stream (4096 bits, 4
    md5-chunk hashes — operators/sketch.bloom_build), probed for three
    present terms and one absent: the set-membership sibling of the
    count-min query above, the ingest-side "seen before?" structure.
    The build is one map-side-combinable distinct of <= n_bits rows at
    ANY corpus size; the oracle rebuilds the identical bit set, so the
    value hash pins every set bit's position arithmetic."""
    from ...operators.sketch import bloom_build, bloom_contains

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(F.expr(_NORM_SPARK), " ")).alias("term")
    ).where(F.col("term") != "")
    bloom = bloom_build(terms, "term", n_bits=4096, n_hashes=4)
    probes = local_frame(
        spark, [("the",), ("of",), ("data",), ("zyzzyva_absent",)], "term string"
    )
    return bloom_contains(bloom, probes, "term", n_bits=4096, n_hashes=4)
