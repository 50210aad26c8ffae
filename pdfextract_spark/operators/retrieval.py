"""Corpus retrieval scoring: TF-IDF term weights and BM25 document
ranking over a distributed text column.

The training-data-pipeline uses: scoring documents against a probe
query (decontamination triage, "find the docs that look like this
benchmark"), surfacing a corpus's most characteristic terms (quality
dashboards), and plain search over a curated set.

Everything is Catalyst-native: tokenize/explode in the scan
projection, per-(doc, term) counts as ONE map-side-combinable
aggregation (checkpoint-fenced — every downstream relation, document
lengths included, derives from the counted table, so the corpus is
tokenized exactly once per call; see operators/fence.py), and the
corpus-level scalars (N, avgdl) carried as broadcast single-row
frames — never a driver-side collect, so the operators stay lazy and
composable.

Scale shape: the (doc, term) table is the inherent fan-out (every
position-weighted scheme needs it); the aggregation combines map-side
so a boilerplate term repeated 10^9 times never hot-spots a task; the
query-term filter happens BEFORE the joins (the scored join moves
only matching rows); the doc-frequency side of the score join is
bounded by the query length, so it broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalize_text
from .fence import fence


def _term_counts(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(per_doc, dl): the fenced (id, term, tf) count table and the
    per-document token length DERIVED from it (dl = sum of tf), so
    the raw text is tokenized exactly once.  NULL / empty texts yield
    no rows (a zero-length doc can never match)."""
    norm = normalize_text(F.coalesce(F.col(text_col), F.lit("")))
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.when(norm == "", F.array()).otherwise(F.split(norm, " "))
        ).alias("term"),
    )
    per_doc = fence(
        toks.groupBy(id_col, "term").agg(
            F.count("*").cast("bigint").alias("tf")
        )
    )
    dl = per_doc.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("dl")
    )
    return per_doc, dl


def doc_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, term, tf, dl): per-document term counts plus the document
    length in tokens — the base relation for TF-IDF and BM25."""
    per_doc, dl = _term_counts(df, text_col, id_col)
    return per_doc.join(dl, id_col)


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, term, tf, df_t, tfidf): smoothed TF-IDF —
    ``tf * ln((N + 1) / (df_t + 1))`` with N the corpus document
    count.  N rides along as a broadcast single-row frame, so the
    operator is lazy end-to-end."""
    per_doc, _ = _term_counts(df, text_col, id_col)
    n_docs = df.agg(F.count("*").cast("bigint").alias("_n"))
    dfreq = per_doc.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df_t")
    )
    return (
        per_doc.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf",
            "df_t",
            (
                F.col("tf")
                * F.log((F.col("_n") + 1) / (F.col("df_t") + 1))
            ).alias("tfidf"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, bm25): Okapi BM25 of every document containing at least
    one query term, with the non-negative idf variant
    ``ln(1 + (N - df_t + 0.5) / (df_t + 0.5))``.

    Query terms are validated against the tokenizer's domain: each is
    normalized exactly like corpus tokens (lowercase, collapsed
    whitespace), an empty term raises, and a MULTI-WORD term raises —
    the corpus relation is (doc, single token, tf), so a phrase can
    never match and silently scoring it as zero would hide the bug.
    A term repeated in ``query_terms`` weights its contribution by
    its query-term frequency (the standard BM25 qtf factor), so
    duplicates are honored, not silently collapsed.

    The query-term filter lands on the fenced count table BEFORE both
    the doc-frequency aggregation and the score join, so the joins
    move only matching rows; df_t is bounded by ``len(query_terms)``
    rows and broadcasts.  Corpus scalars — N over ALL documents,
    avgdl over documents with >= 1 token (the only ones the count
    table holds) — ride as a broadcast single-row frame: no
    driver-side action, the plan composes lazily."""
    import re
    from collections import Counter

    # the corpus tokenizer is Java regex \s+ (ASCII whitespace only —
    # no UNICODE_CHARACTER_CLASS), so the query side must split on the
    # SAME class: Python str.split() also breaks on Unicode whitespace
    # (U+00A0 etc.), which would reject a corpus token that genuinely
    # contains one as "multi-word" even though it is in the
    # tokenizer's domain
    ascii_ws = re.compile(r"[ \t\n\x0b\f\r]+")
    normed = []
    for t in query_terms:
        nt = ascii_ws.sub(" ", str(t).lower()).strip(" \t\n\x0b\f\r")
        if not nt:
            raise ValueError(
                f"query term {t!r} is empty after normalization"
            )
        if " " in nt:
            raise ValueError(
                f"multi-word query term {t!r}: the corpus is tokenized "
                f"on whitespace, so pass individual tokens "
                f"(e.g. {nt.split()!r})"
            )
        normed.append(nt)
    if not normed:
        raise ValueError("query_terms is empty")
    qtf = Counter(normed)
    terms = list(qtf)
    if any(c > 1 for c in qtf.values()):
        qtf_weight = F.element_at(
            F.create_map(
                *[
                    x
                    for t, c in qtf.items()
                    for x in (F.lit(t), F.lit(float(c)))
                ]
            ),
            F.col("term"),
        )
    else:
        qtf_weight = F.lit(1.0)
    per_doc, dl = _term_counts(df, text_col, id_col)
    matched = per_doc.where(F.col("term").isin(terms))
    hits = matched.join(dl, id_col)
    dfreq = matched.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df_t")
    )
    stats = df.agg(F.count("*").cast("bigint").alias("_n")).crossJoin(
        dl.agg(F.avg("dl").alias("_avgdl"))
    )
    idf = F.log(
        1
        + (F.col("_n") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    tf_part = (
        F.col("tf")
        * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("_avgdl"))
        )
    )
    return (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(qtf_weight * idf * tf_part).alias("bm25"))
    )
