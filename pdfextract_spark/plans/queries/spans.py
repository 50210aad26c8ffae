"""Span-level dedup: cross-corpus paragraph dedup, exact-substring spans
(stats, strip and the 8x bench variant) and n-gram benchmark
decontamination, each next to its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators import dedup
from ...sources.tables import load_table
from ..driver_queries import _NORM_SQL, _spread, _spread_by, q


@q(
    "decontaminate_ngram",
    f"""
    WITH nw AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) < 5 THEN []
                  ELSE [array_to_string(w[i:i+4], ' ')
                        for i in generate_series(1, len(w) - 4)] END
               AS shingles
      FROM nw
    ),
    c AS (SELECT doc_id, unnest(shingles) AS sh FROM sh),
    b AS (
      SELECT DISTINCT unnest(shingles) AS bsh FROM sh WHERE doc_id % 20 = 0
    ),
    j AS (
      SELECT c.doc_id, c.sh, b.bsh IS NOT NULL AS hit
      FROM c LEFT JOIN b ON c.sh = b.bsh
    ),
    agg AS (
      SELECT doc_id, count(sh) AS n_shingles,
             count(DISTINCT CASE WHEN hit THEN sh END) AS n_contaminated,
             round(CASE WHEN count(sh) > 0
                   THEN count(DISTINCT CASE WHEN hit THEN sh END) * 1.0
                        / count(DISTINCT sh)
                   ELSE 0.0 END, 6) AS hit_rate
      FROM j GROUP BY doc_id
    )
    SELECT nw.doc_id,
           coalesce(n_shingles, 0) AS n_shingles,
           coalesce(n_contaminated, 0) AS n_contaminated,
           coalesce(hit_rate, 0.0) AS hit_rate
    FROM nw LEFT JOIN agg ON nw.doc_id = agg.doc_id
    """,
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination (training-data op): flag corpus docs
    sharing word 5-grams with the eval set (here: every 20th doc
    stands in for a benchmark).  Benchmark shingle set broadcasts;
    work scales with corpus + matches, never corpus x benchmark.
    Benchmark members themselves report hit_rate 1.0 — the
    deterministic positive control."""
    from ...operators.decontaminate import ngram_contamination

    docs = _spread(spark, load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return ngram_contamination(docs, bench, n=5)


@q(
    "dedup_paragraph_exact",
    r"""
    WITH corpus AS (
      -- synthesize cross-document duplicate paragraphs (the driver
      -- documents are single-paragraph and unique): 7 shared
      -- boilerplate variants plus one corpus-wide license line
      SELECT doc_id,
             text || chr(10) || chr(10) ||
             'Shared boilerplate variant ' || (doc_id % 7) ||
             ' applies to this corpus.' || chr(10) || chr(10) ||
             'This content is licensed under CC-BY 4.0.' AS text
      FROM documents
    ),
    e AS (
      SELECT doc_id,
             UNNEST(list_zip(range(1, len(parts) + 1), parts)) AS u
      FROM (
        SELECT doc_id, string_split_regex(text, '(?:\r?\n){2,}') AS parts
        FROM corpus
      )
    ),
    p AS (
      SELECT doc_id,
             u[1]::BIGINT AS para_idx,
             u[2] AS para,
             md5(trim(regexp_replace(lower(u[2]), '\s+', ' ', 'g')))
               AS para_hash,
             doc_id * 100000 + u[1]::BIGINT AS key
      FROM e
      WHERE trim(regexp_replace(lower(u[2]), '\s+', ' ', 'g')) <> ''
    ),
    o AS (
      SELECT para_hash, min(key) AS keep_key, count(*) AS dup_count
      FROM p GROUP BY para_hash
    ),
    k AS (
      SELECT p.doc_id, p.para_idx, p.para
      FROM p JOIN o ON p.para_hash = o.para_hash
      WHERE p.key = o.keep_key
    )
    SELECT doc_id,
           count(*) AS n_kept,
           md5(string_agg(para, chr(10) || chr(10) ORDER BY para_idx))
             AS clean_hash
    FROM k GROUP BY doc_id
    """,
)
def dedup_paragraph_exact(spark, sf_dir):
    """Cross-corpus paragraph-level exact dedup (the C4/RefinedWeb
    'remove duplicated paragraphs across documents' pass): explode ->
    md5 in the scan projection -> one map-side-combinable min/count
    shuffle (no window over hash groups, so mega-duplicate boilerplate
    cannot hot-spot) -> join back -> reassemble.  clean_hash pins the
    exact reconstructed text of every surviving document.  NOT
    pre-spread: repartitioning the full text cost 4x the whole query
    (2.13 vs 0.54 s at sf0.1) for per-row work that is only a split
    and three md5s — at warehouse scale the scan's own splits provide
    the parallelism this sandbox single-file input lacks."""
    from ...operators.dedup import strip_duplicate_paragraphs

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\n\nShared boilerplate variant "),
            F.col("doc_id") % 7,
            F.lit(" applies to this corpus."),
            F.lit("\n\nThis content is licensed under CC-BY 4.0."),
        ).alias("text"),
    )
    out = strip_duplicate_paragraphs(corpus)
    return out.select(
        "doc_id",
        F.col("n_kept"),
        F.md5("clean_text").alias("clean_hash"),
    )


# Substring-span dedup corpus: each document's tokens are salted with
# its doc_id (killing accidental cross-doc n-gram collisions), then
# fixed snippets are planted — S3 mid-document in every 7th doc, S1/S2
# wrapped around every 3rd — so the expected output has a KNOWN
# multi-island structure: %3 docs get two disjoint spans (prefix +
# suffix), %21 docs three, everything else zero unless the document
# repeats its own 8-gram (within-doc duplication counts, by design).
_SS_S1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_SS_S2 = "one two three four five six seven eight nine ten"
_SS_S3 = "red orange yellow green blue indigo violet umber sable jade"


_SS_CORPUS_SQL = f"""
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN '{_SS_S1} ' || body || ' {_SS_S2}'
                  ELSE body END AS text
      FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN array_to_string(salted[1:half], ' ')
                         || ' {_SS_S3} '
                         || array_to_string(salted[half+1:len(salted)], ' ')
                    ELSE array_to_string(salted, ' ') END AS body
        FROM (
          SELECT doc_id,
                 [t || '_' || doc_id
                  for t in string_split({_NORM_SQL}, ' ')] AS salted,
                 len(string_split({_NORM_SQL}, ' ')) // 2 AS half
          FROM documents
        )
      )
"""


# The shared seed->dup->merged-islands pipeline over a corpus CTE named
# ``corpus`` (re-normalized first: the builders above can emit double
# spaces at empty slice boundaries, exactly like their Spark twins).
# ``__MC__`` is the min_count threshold; _ss_spans_sql() instantiates it.
_SS_SPANS_TMPL = """
    nw AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(coalesce(text, '')),
                                              '\\s+', ' ', 'g')), ' ') AS w
      FROM corpus
    ),
    g0 AS (
      SELECT doc_id,
             CASE WHEN len(w) < 8 THEN []
                  ELSE [{'p': i - 1,
                         'g': md5(array_to_string(w[i:i+7], ' '))}
                        for i in generate_series(1, len(w) - 7)] END AS prs
      FROM nw
    ),
    g AS (SELECT doc_id, unnest(prs, recursive := true) FROM g0),
    dup AS (SELECT g AS gh FROM g GROUP BY g HAVING count(*) >= __MC__),
    seeds AS (SELECT g.doc_id, g.p AS pos FROM g JOIN dup ON g.g = dup.gh),
    flag AS (
      SELECT doc_id, pos,
             CASE WHEN pos > coalesce(max(pos + 8) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS nw_
      FROM seeds
    ),
    isl AS (
      SELECT doc_id, pos, sum(nw_) OVER (
          PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flag
    ),
    spans AS (
      SELECT doc_id, min(pos)::BIGINT AS span_lo,
             max(pos + 8)::BIGINT AS span_hi, count(*)::BIGINT AS n_seeds
      FROM isl GROUP BY doc_id, island
    )
"""


def _ss_spans_sql(min_count: int = 2) -> str:
    """Instantiate the shared spans pipeline at a min_count threshold
    (plain replace — the template holds DuckDB struct literals whose
    braces str.format would eat)."""
    return _SS_SPANS_TMPL.replace("__MC__", str(min_count))


_SS_SPANS_SQL = _ss_spans_sql()


# Per-document duplicated-token accounting tail shared by the base
# stats oracle and the 8x-mirrored bench variant: aggregate the merged
# spans, then left-join so zero-span documents report 0 / 0.0.
_SS_STATS_TAIL_SQL = """
    agg AS (
      SELECT doc_id, sum(span_hi - span_lo)::BIGINT AS dup_tokens,
             count(*)::BIGINT AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT nw.doc_id,
           (CASE WHEN array_to_string(w, '') = '' THEN 0
                 ELSE len(w) END)::BIGINT AS n_tokens,
           coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
           coalesce(n_spans, 0)::BIGINT AS n_spans,
           round(CASE WHEN len(w) > 0 AND array_to_string(w, '') <> ''
                 THEN coalesce(dup_tokens, 0) * 1.0 / len(w)
                 ELSE 0.0 END, 6) AS dup_ratio
    FROM nw LEFT JOIN agg ON nw.doc_id = agg.doc_id
"""


@q(
    "dedup_substring_spans",
    f"""
    WITH corpus AS ({_SS_CORPUS_SQL}),
    {_SS_SPANS_SQL}
    SELECT doc_id, span_lo, span_hi, n_seeds FROM spans
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Exact substring dedup (Lee et al. 2022 re-expressed
    relationally, operators/dedup.substring_duplicate_spans): every
    token position whose 8-gram occurs twice anywhere in the corpus is
    a seed; overlapping/adjacent seeds merge into maximal half-open
    spans.  The salted+planted corpus (see _SS_CORPUS_SQL) pins a
    known multi-island structure — prefix+suffix spans on every 3rd
    doc, a mid-document island on every 7th — so the value hash
    verifies seed detection, cross-doc counting, AND the per-doc
    interval merge, not just row counts."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(dedup.normalize_text(F.col("text")), " ")
    salted = F.transform(
        w, lambda t: F.concat(t, F.lit("_"), F.col("doc_id").cast("string"))
    )
    sz = F.size(salted)
    half = (sz / 2).cast("int")
    mid = F.concat_ws(
        " ",
        F.concat_ws(" ", F.slice(salted, 1, half)),
        F.lit(_SS_S3),
        F.concat_ws(" ", F.slice(salted, half + 1, sz - half)),
    )
    body = F.when(F.col("doc_id") % 7 == 0, mid).otherwise(
        F.concat_ws(" ", salted)
    )
    text = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat_ws(" ", F.lit(_SS_S1), body, F.lit(_SS_S2)),
    ).otherwise(body)
    corpus = _spread_by(
        spark, docs.select("doc_id", text.alias("text")), "doc_id"
    )
    return dedup.substring_duplicate_spans(corpus, n=8, min_count=2)


@q(
    "dedup_substring_stats",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    {_SS_SPANS_SQL},
    {_SS_STATS_TAIL_SQL}
    """,
)
def dedup_substring_stats(spark, sf_dir):
    """Per-document duplicated-token accounting over the RAW documents
    table at n=8 (natural small-vocabulary duplication): dup_tokens /
    n_tokens / n_spans / dup_ratio, one row per input document
    including zero-span ones — the curation-dashboard row.  The input
    is hash-partitioned by doc_id (``_spread_by``): the groupBy(doc_id)
    that folds seed positions then reuses the partitioning, so the
    only seed-table shuffle left is the combinable gram count."""
    docs = _spread_by(
        spark, load_table(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "text")
    return dedup.substring_dedup_stats(docs, n=8, min_count=2)


@q(
    "dedup_substring_stats_8x",
    f"""
    WITH corpus AS (
      SELECT doc_id * 8 + i AS doc_id, text
      FROM documents, range(8) r(i)
    ),
    {_ss_spans_sql(16)},
    {_SS_STATS_TAIL_SQL}
    """,
)
def dedup_substring_stats_8x(spark, sf_dir):
    """``dedup_substring_stats`` at 8x the corpus: documents mirrored
    eightfold (doc_id * 8 + i keys) with min_count scaled 2 -> 16, so
    the duplicated-gram SET is bit-identical to the base query's (a
    gram clears 16 occurrences at 8x iff it cleared 2 at 1x) while
    every stage processes 8x the rows.  This is the bench entry that
    measures the operator in the amortized regime: at sf0.1 the base
    documents table is 5,000 docs x 54 tokens, small enough that
    fixed per-job overhead — not the plan — dominates the Spark/DuckDB
    ratio (BASELINE.md profiles this), whereas the oracle's cost is
    linear in corpus size.  Mirroring follows the committed scale-run
    protocol (tools/dedup_scale.py's 8x/16x/32x corpora)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mirrored = docs.select(
        F.col("doc_id"),
        F.col("text"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("_i"),
    ).select(
        (F.col("doc_id") * 8 + F.col("_i")).alias("doc_id"), "text"
    )
    corpus = _spread_by(spark, mirrored, "doc_id")
    return dedup.substring_dedup_stats(corpus, n=8, min_count=16)


@q(
    "dedup_substring_strip",
    f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    {_SS_SPANS_SQL},
    sp AS (
      SELECT doc_id,
             list({{'lo': span_lo, 'hi': span_hi}}) AS sl
      FROM spans GROUP BY doc_id
    )
    SELECT nw.doc_id,
           (CASE WHEN array_to_string(w, '') = '' THEN 0
                 ELSE len(w) END)::BIGINT AS n_tokens,
           CASE WHEN array_to_string(w, '') = '' THEN ''
                ELSE coalesce(array_to_string(
             list_filter(w, (x, i) -> sp.sl IS NULL OR
               len(list_filter(sp.sl,
                   s -> (i - 1) >= s.lo AND (i - 1) < s.hi)) = 0),
             ' '), '') END AS clean_text
    FROM nw LEFT JOIN sp ON nw.doc_id = sp.doc_id
    """,
)
def dedup_substring_strip(spark, sf_dir):
    """The rewrite stage (operators/dedup.strip_duplicate_spans):
    normalized token stream minus every duplicated span ("drop both
    copies" — no global canonical pick, so the rewrite stays
    per-document-parallel).  clean_text itself is in the value hash:
    the oracle rebuilds it with an index-lambda filter over the same
    merged spans."""
    docs = _spread_by(
        spark, load_table(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "text")
    return dedup.strip_duplicate_spans(docs, n=8, min_count=2)
