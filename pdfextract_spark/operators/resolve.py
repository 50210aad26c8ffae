"""Reference resolution (SURVEY.md J5, ``references/resolve.rb``,
``resolved_references.rb:11-13``) — Spark-first redesign.

The reference resolves each extracted reference string by calling HTTP
services one at a time (CrossRef Sigg ``resolve.rb:12-23``, FreeCite
``resolve.rb:58-63``, SimpleTextQuery) and merging ``{doi, score}``
into the row.  Per-row HTTP is exactly what a 10^12-turn engine cannot
do; the cluster-scale equivalent is a **join against a local metadata
catalog table** (the CrossRef public data file is ~150M rows of
title/authors/year/DOI — a small fraction of a 100 TB corpus):

1. normalize + tokenize both sides,
2. block on publication year (pulled from the citation string with the
   reference's own year pattern, language.rb:63-71 analog),
3. score candidates by token overlap between the citation string and
   the catalog entry (title + first author),
4. keep the argmax per reference above ``min_score``.

Everything is hash-join + higher-order functions — no Python in the
hot path, no network.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_STOP = (
    "a an and the of in on for with to at by journal proceedings "
    "conference press vol pp"
).split()


def _tokens(col: Column) -> Column:
    """Lowercased alphanumeric tokens of length >= 3, stopwords and
    pure numbers dropped, DISTINCT — the discriminative vocabulary of
    a citation.  Distinct matters for the score: array_intersect is
    set-valued, so with a multiset denominator a catalog title
    repeating a token ('Data, data, data: ...') could never reach the
    score its distinct overlap earns — repeated enough, the entry
    becomes permanently unresolvable below min_score."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " ")), " "
    )
    stop = F.array(*[F.lit(w) for w in _STOP])
    return F.array_distinct(F.filter(
        toks,
        lambda t: (F.length(t) >= 3)
        & ~F.array_contains(stop, t)
        & t.rlike("[a-z]"),
    ))


def _year(col: Column) -> Column:
    """First 4-digit year-like number in the string (the reference's
    year heuristic, language.rb:63-71: a \\d{4} run delimited by
    non-digits)."""
    y = F.regexp_extract(col, r"(?:^|[^0-9])((?:19|20)[0-9]{2})(?:[^0-9]|$)", 1)
    return F.when(y == "", None).otherwise(y.cast("int"))


def resolve_references(
    refs: DataFrame,
    catalog: DataFrame,
    ref_col: str = "content",
    min_score: float = 0.5,
) -> DataFrame:
    """refs(any key cols..., content) x catalog(doi, title, author,
    year) -> refs + (doi, score), best catalog match per reference.

    Score = |tokens(citation) ∩ tokens(title+author)| / |tokens(title+
    author)| — the fraction of the catalog entry's vocabulary present
    in the citation string.  Blocking on year keeps the join selective
    (at CrossRef scale each year block is ~2-5M rows and the join is a
    plain shuffle hash join; broadcast when the catalog slice fits).
    References without a parseable year resolve to NULL (the
    reference's resolvers likewise fail them, resolve.rb:29-33).

    ``refs`` must not already carry the appended columns (doi, score,
    title, author, year) — re-resolving prior output would produce
    ambiguous duplicate names, so that is rejected up front (same
    contract style as rangejoin's reserved-column guard)."""
    appended = ("doi", "score", "title", "author", "year")
    # the internal working names are guarded too: withColumn would
    # silently overwrite a caller's _rid (etc.) and the output's
    # select(*refs.columns, ...) would then return the surrogate ids
    # in place of the user's data
    reserved = appended + ("_rid", "_rtoks", "_ryear")
    clash = [c for c in refs.columns if c in reserved]
    if clash:
        raise ValueError(
            f"refs already has column(s) {clash}; resolve_references "
            f"appends {list(appended)} and uses working names "
            f"('_rid', '_rtoks', '_ryear') — drop or rename them first"
        )
    r = (
        refs.withColumn("_rid", F.monotonically_increasing_id())
        .withColumn("_rtoks", _tokens(F.col(ref_col)))
        .withColumn("_ryear", _year(F.col(ref_col)))
    )
    c = catalog.select(
        F.col("doi").alias("_doi"),
        F.col("title").alias("_ctitle"),
        F.col("author").alias("_cauthor"),
        F.col("year").alias("_cyear"),
        _tokens(F.concat_ws(" ", "title", "author")).alias("_ctoks"),
    )
    joined = r.join(c, r["_ryear"] == c["_cyear"], "left")
    inter = F.size(F.array_intersect(F.col("_rtoks"), F.col("_ctoks")))
    denom = F.size(F.col("_ctoks"))
    score = F.when(
        denom > 0, inter.cast("double") / denom.cast("double")
    ).otherwise(F.lit(0.0))
    scored = joined.withColumn("_score", score)
    # the surrogate _rid preserves input cardinality: two identical
    # reference rows stay two output rows
    w = Window.partitionBy("_rid").orderBy(
        F.col("_score").desc(), F.col("_doi").asc()
    )
    ok = F.col("_score") >= min_score
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            *refs.columns,
            F.when(ok, F.col("_doi")).alias("doi"),
            F.when(ok, F.round("_score", 6)).alias("score"),
            F.when(ok, F.col("_ctitle")).alias("title"),
            F.when(ok, F.col("_cauthor")).alias("author"),
            F.when(ok, F.col("_cyear")).alias("year"),
        )
    )
    return best


def synth_citation_catalog(spark, n: int = 200) -> DataFrame:
    """Deterministic synthetic metadata catalog for tests/demos: one
    row per (doi, title, author, year), derived from the row index —
    no RNG, stable across machines."""
    base = spark.range(n)
    return base.select(
        F.concat(F.lit("10.5555/synth."), F.col("id")).alias("doi"),
        F.concat(
            F.lit("catalog study number "),
            F.col("id"),
            F.lit(" of topic "),
            (F.col("id") % 17),
        ).alias("title"),
        F.concat(F.lit("Author"), (F.col("id") % 29)).alias("author"),
        (F.lit(1970) + (F.col("id") % 50)).cast("int").alias("year"),
    )

