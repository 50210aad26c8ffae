"""String, quality and text-hygiene queries: the SURVEY.md F scalar
functions, language ID, quality scores and filters, boilerplate strip
and URL/e-mail/PII scrubbing, each next to its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...ioutil import local_frame
from ...operators import quality as Q
from ...operators import text as T
from ...sources.tables import load_table
from ..driver_queries import _NORM_SQL, _spread, q


@q(
    "f1_transliterate",
    """
    SELECT doc_id,
           regexp_replace(
             replace(replace(replace(replace(replace(replace(replace(replace(
             replace(replace(replace(replace(replace(replace(replace(replace(
             replace(text,
               'ﬀ','ff'),'ﬁ','fi'),'ﬂ','fl'),'ﬃ','ffi'),'ﬄ','ffl'),
               'ﬅ','ft'),'ﬆ','st'),'ᵫ','ue'),
               '‘',''''),'’',''''),'–','-'),'—','-'),'“','"'),'”','"'),
               '▯','('),'±','-'),'´',''),
             '\\s+', ' ', 'g') AS clean
    FROM documents
    """,
)
def f1_transliterate(spark, sf_dir):
    """F1 (language.rb:5-38): ligature/punct normalization +
    whitespace collapse, as a codegen'd expression chain."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", T.transliterate(F.col("text")).alias("clean"))


@q(
    "f2_letter_ratio",
    """
    SELECT doc_id,
           round(length(regexp_replace(text,
             '[^A-Z0-9\\-\\[\\],."''()]', '', 'g')) * 1.0
             / length(text), 6)::DOUBLE AS letter_ratio
    FROM documents WHERE length(text) > 0
    """,
)
def f2_letter_ratio(spark, sf_dir):
    """F2 (language.rb:40-42)."""
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    return docs.select(
        "doc_id", F.round(T.letter_ratio(F.col("text")), 6).alias("letter_ratio")
    )


@q(
    "f4_year_ratio",
    """
    SELECT doc_id,
           round(len(list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> regexp_matches(x, '[^\\d]\\d{4}[^\\d]'))) * 1.0
             / len(string_split_regex(trim(text), '\\s+')), 6)::DOUBLE AS year_ratio
    FROM documents WHERE trim(text) <> ''
    """,
)
def f4_year_ratio(spark, sf_dir):
    """F4 (language.rb:63-71)."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    return docs.select(
        "doc_id", F.round(T.year_ratio(F.col("text")), 6).alias("year_ratio")
    )


@q(
    "f5_word_count",
    """
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END
             AS word_count
    FROM documents
    """,
)
def f5_word_count(spark, sf_dir):
    """F5 (language.rb:77-79)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.word_count(F.col("text")).cast("bigint").alias("word_count")
    )


@q(
    "f7_hyphen_join",
    """
    WITH l AS (
      SELECT doc_id,
             [substring(text, 1, 30) || '-',
              substring(text, 31, 30) || '-',
              substring(text, 61, 30)] AS lines
      FROM documents WHERE length(text) >= 90
    )
    SELECT doc_id,
           trim(replace(replace(array_to_string(lines, chr(1)),
                '-' || chr(1), ''), chr(1), ' ')) AS joined
    FROM l
    """,
)
def f7_hyphen_join(spark, sf_dir):
    """F7 (spatial.rb:98-112): hyphen-aware line concat via a JVM-side
    aggregate() fold over the lines array.  The oracle states the
    equivalent separator-substitution form (identical for any line set
    whose final line does not end in '-')."""
    docs = load_table(spark, sf_dir, "documents").where(F.length("text") >= 90)
    lines = F.array(
        F.concat(F.substring("text", 1, 30), F.lit("-")),
        F.concat(F.substring("text", 31, 30), F.lit("-")),
        F.substring("text", 61, 30),
    )
    return docs.select("doc_id", T.hyphen_join(lines).alias("joined"))


# the normalized words ``w`` of every document
_WORDS_SQL = f"""
    t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    )"""


@q(
    "lang_id_en",
    f"""
    WITH {_WORDS_SQL}
    SELECT doc_id,
           CASE WHEN len(w) > 0 AND
                     len(list_filter(w, x -> list_contains(
                       ['the','and','of','to','in','is','that','for','with',
                        'as','was','on','are','by','this','be','or','an','a',
                        'it'], x))) * 1.0 / len(w) >= 0.08
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM t
    """,
)
def lang_id_en(spark, sf_dir):
    """Language ID heuristic: function-word hit ratio (SURVEY brief:
    text analysis for training pipelines)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", Q.lang_id_en(F.col("text")).alias("lang_pred")
    )


@q(
    "token_count_bpe",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
             AS n_tokens
    FROM documents
    """,
)
def token_count_bpe(spark, sf_dir):
    """BPE-ish pre-tokenizer counting (letter runs / digit runs /
    single symbols)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", Q.token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )


@q(
    "quality_score",
    """
    WITH t AS (
      SELECT doc_id, text,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               AS w
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             length(text) AS n,
             len(list_filter(w, x -> list_contains(
               ['the','and','of','to','in','is','that','for','with','as',
                'was','on','are','by','this','be','or','an','a','it'], x)))
               * 1.0 / len(w) AS sw,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / length(text) AS pr,
             list_sum([length(x) for x in w]) * 1.0 / len(w) AS mwl
      FROM t WHERE len(w) > 0 AND length(text) > 0
    )
    SELECT doc_id,
           round(
             (CASE WHEN n BETWEEN 200 AND 20000 THEN 1.0
                   WHEN n BETWEEN 50 AND 199 THEN 0.5 ELSE 0.0 END)::DOUBLE * 0.3 +
             (CASE WHEN sw >= 0.08 THEN 1.0
                   WHEN sw >= 0.03 THEN 0.5 ELSE 0.0 END)::DOUBLE * 0.3 +
             (CASE WHEN pr <= 0.1 THEN 1.0
                   WHEN pr <= 0.25 THEN 0.5 ELSE 0.0 END)::DOUBLE * 0.2 +
             (CASE WHEN mwl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END)::DOUBLE * 0.2,
           6)::DOUBLE AS quality
    FROM c
    """,
)
def quality_score(spark, sf_dir):
    """Composite quality score (length/stopword/punct/word-length
    bands) — all bands integer-ish so equality is exact."""
    docs = load_table(spark, sf_dir, "documents").where(
        (F.length("text") > 0) & (F.trim("text") != "")
    )
    return docs.select(
        "doc_id", F.round(Q.quality_score(F.col("text")), 6).alias("quality")
    )


@q(
    "f3_cap_ratio",
    """
    SELECT doc_id,
           round((len(regexp_extract_all(text, '[A-Z]')) -
                  len(regexp_extract_all(text, '(^|\\.)\\s*[A-Z]'))) * 1.0
                 / len(string_split_regex(trim(text), '\\s+')), 6)::DOUBLE AS cap_ratio
    FROM documents WHERE trim(text) <> ''
    """,
)
def f3_cap_ratio(spark, sf_dir):
    """F3 (language.rb:45-61): the sentence-state cap scan expressed as
    two regex counts — a capital is uncounted exactly when only
    whitespace separates it from the start or the previous '.'
    (equivalence proven against the char-scan kernel in tests)."""
    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    total = F.size(F.regexp_extract_all("text", F.lit("[A-Z]"), 0))
    uncounted = F.size(
        F.regexp_extract_all("text", F.lit(r"(^|\.)\s*[A-Z]"), 0)
    )
    words = F.size(F.split(F.trim("text"), r"\s+"))
    return docs.select(
        "doc_id",
        F.round((total - uncounted).cast("double") / words, 6).alias("cap_ratio"),
    )


@q(
    "boilerplate_strip",
    """
    WITH segs AS (
      SELECT doc_id, source,
             unnest(string_split(text, '. ')) AS seg
      FROM documents
    ),
    norm AS (
      SELECT doc_id, source,
             trim(regexp_replace(lower(seg), '\\s+', ' ', 'g')) AS seg
      FROM segs
    ),
    freq AS (
      SELECT source, seg, count(DISTINCT doc_id) AS n_docs
      FROM norm WHERE seg <> '' GROUP BY source, seg
    ),
    docs_per_source AS (
      SELECT source, count(*) AS total FROM documents GROUP BY source
    ),
    flagged AS (
      SELECT n.doc_id, n.seg,
             (f.n_docs * 1.0 / d.total) >= 0.3 AS is_boiler
      FROM norm n
      JOIN freq f ON f.source = n.source AND f.seg = n.seg
      JOIN docs_per_source d ON d.source = n.source
      WHERE n.seg <> ''
    )
    SELECT doc_id,
           count(*) AS n_segments,
           sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT AS n_boilerplate
    FROM flagged GROUP BY doc_id
    """,
)
def boilerplate_strip(spark, sf_dir):
    """Main-content extraction over plain text (north_rule 'HTML
    boilerplate strip' analog): a segment is boilerplate when it
    repeats across >= 30% of its source's documents — the line-frequency
    rule used by web-corpus content extractors.  Scale shape: explode ->
    (source, seg) frequency agg, REDUCED to boilerplate-only rows
    BEFORE the join back.  Distinct segments grow ~linearly with the
    corpus (most segments are unique) so broadcasting the full
    frequency table OOMs at 100 TB; segments repeated across >= 30% of
    a source's docs are a genuinely tiny set, and a left join with
    null -> not-boilerplate gives identical values."""
    docs = load_table(spark, sf_dir, "documents")
    segs = docs.select(
        "doc_id",
        "source",
        F.explode(F.split("text", r"\. ")).alias("raw_seg"),
    ).select(
        "doc_id",
        "source",
        F.trim(F.regexp_replace(F.lower("raw_seg"), r"\s+", " ")).alias("seg"),
    ).where(F.col("seg") != "")
    totals = docs.groupBy("source").agg(F.count("*").alias("total"))
    boiler = (
        segs.groupBy("source", "seg")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .join(F.broadcast(totals), "source")
        .where((F.col("n_docs") * 1.0 / F.col("total")) >= 0.3)
        .select("source", "seg", F.lit(True).alias("is_boiler"))
    )
    flagged = segs.join(F.broadcast(boiler), ["source", "seg"], "left")
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segments"),
        F.sum(
            F.when(F.coalesce(F.col("is_boiler"), F.lit(False)), 1).otherwise(0)
        ).alias("n_boilerplate"),
    )


_F10_NUMS_SPARK = (
    "filter(transform(filter(regexp_extract_all(text, '[0-9]+', 0), "
    "s -> length(s) <= 9), s -> cast(s as bigint)), n -> n < 1000)"
)
_F10_NUMS_DUCK = (
    "list_filter(list_transform(list_filter(regexp_extract_all(text, '[0-9]+'), "
    "s -> length(s) <= 9), s -> s::BIGINT), n -> n < 1000)"
)


@q(
    "f10_numeric_sequence",
    f"""
    WITH n AS (
      SELECT doc_id, text, {_F10_NUMS_DUCK} AS nums FROM documents
    ),
    enc AS (
      SELECT doc_id, text, nums,
             list_reduce(
               list_prepend(0::BIGINT, nums),
               (acc, x) -> CASE
                 WHEN acc // 100000 = 0 THEN (x + 1) * 100000 + acc % 100000
                 WHEN x = acc // 100000
                   THEN (x + 1) * 100000 + acc % 100000 + 1
                 ELSE acc END) AS st
      FROM n
    )
    SELECT doc_id, st % 100000 AS seq_count,
           CASE WHEN st % 100000 >= 3 AND nums[1] IS NOT NULL
                     AND instr(substr(text, 1, 31), nums[1]::VARCHAR) > 0
                THEN 1 ELSE 0 END AS is_ref_list
    FROM enc
    """,
)
def f10_numeric_sequence(spark, sf_dir):
    """F10 (references.rb:163-184): numeric-sequence detector as a pure
    higher-order-function fold — extract digit runs, drop >= 1000
    (max_reference_order), fold (last, seq_count) state encoded in one
    BIGINT, require seq_count >= 3 (min_sequence_count) and the first
    number inside the first 31 chars.  Zero Python, zero shuffles; the
    whole scan happens in the projection over the parquet scan.  (The
    reference-exact kernel is core/references.numeric_sequence, pinned
    by test_numeric_sequence_detector.)"""
    docs = load_table(spark, sf_dir, "documents")
    enc = docs.select(
        "doc_id",
        "text",
        F.expr(_F10_NUMS_SPARK).alias("nums"),
    ).select(
        "doc_id",
        "text",
        "nums",
        F.expr(
            "aggregate(nums, cast(0 as bigint), (acc, x) -> CASE "
            "WHEN acc div 100000 = 0 THEN (x + 1) * 100000 + acc % 100000 "
            "WHEN x = acc div 100000 THEN (x + 1) * 100000 + acc % 100000 + 1 "
            "ELSE acc END)"
        ).alias("st"),
    )
    first_n = F.expr("try_element_at(nums, 1)")
    seq_count = F.col("st") % 100000
    return enc.select(
        "doc_id",
        seq_count.alias("seq_count"),
        F.when(
            (seq_count >= 3)
            & first_n.isNotNull()
            & (
                F.instr(F.substring("text", 1, 31), first_n.cast("string"))
                > 0
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_ref_list"),
    )


_F6_DICT = [
    ("Table", 1.0),
    ("Row", 1.0),
    ("Value", 1.0),
    ("Hash", 1.0),
    ("Key", 1.0),
    ("Batch", 1.0),
    ("Merge", 0.0),
    ("Scan", 0.0),
]
_F6_DICT_SQL = ", ".join(f"('{n}', {w})" for n, w in _F6_DICT)


@q(
    "f6_name_ratio",
    f"""
    WITH w AS (
      SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS w
      FROM documents
    ),
    nz AS (
      SELECT doc_id,
             concat(upper(substr(lower(w), 1, 1)), substr(lower(w), 2)) AS n
      FROM w WHERE w <> ''
    ),
    d AS (
      SELECT name, weight::DOUBLE AS weight
      FROM (VALUES {_F6_DICT_SQL}) AS t(name, weight)
    )
    SELECT doc_id,
           CASE WHEN coalesce(sum(weight), 0) = 0 THEN 0.0
                ELSE round(sum(weight) / count(*), 6) END AS name_ratio
    FROM nz LEFT JOIN d ON n = name
    GROUP BY doc_id
    """,
)
def f6_name_ratio(spark, sf_dir):
    """F6 (names.rb:21-49): dictionary-weight scoring — normalize each
    word (downcase -> capitalize), look it up in a broadcast weight
    dict (ambiguous entries weigh 0.0, names.rb:10-11), ratio =
    sum(weights)/word_count with the 0-sum -> 0.0 quirk (names.rb:44-48).
    The pipeline path uses the ~500-entry synthetic surname list
    (core/names.py, familynames.db is absent upstream); this oracle
    pair uses a corpus-aligned dict so matches actually occur.  The
    dict side is broadcast — no shuffle of the big side beyond the
    per-doc aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("w")
        )
        .where(F.col("w") != "")
        .select(
            "doc_id",
            F.concat(
                F.upper(F.substring(F.lower("w"), 1, 1)),
                F.expr("substring(lower(w), 2)"),
            ).alias("n"),
        )
    )
    d = local_frame(spark, _F6_DICT, "name string, weight double")
    joined = words.join(F.broadcast(d), words["n"] == d["name"], "left")
    agg = joined.groupBy("doc_id").agg(
        F.coalesce(F.sum("weight"), F.lit(0.0)).alias("total"),
        F.count("*").alias("wc"),
    )
    return agg.select(
        "doc_id",
        F.when(F.col("total") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("total") / F.col("wc"), 6))
        .alias("name_ratio"),
    )


_LANG_WORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "es": ["el", "los", "las", "es", "y", "que", "un", "una", "para", "como"],
    "fr": ["le", "les", "et", "est", "dans", "pour", "une", "des", "au", "sur"],
}
_LANG_T = 0.08


def _lang_ratio_sql(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in _LANG_WORDS[lang])
    return (
        f"CASE WHEN len(w) = 0 THEN 0.0 ELSE "
        f"len(list_filter(w, x -> list_contains([{lst}], x))) * 1.0 / len(w) "
        f"END"
    )


@q(
    "lang_id_multi",
    f"""
    WITH {_WORDS_SQL},
    r AS (
      SELECT doc_id,
             {_lang_ratio_sql('en')} AS r_en,
             {_lang_ratio_sql('de')} AS r_de,
             {_lang_ratio_sql('es')} AS r_es,
             {_lang_ratio_sql('fr')} AS r_fr
      FROM t
    )
    SELECT doc_id,
           CASE
             WHEN r_en >= r_de AND r_en >= r_es AND r_en >= r_fr
                  AND r_en >= {_LANG_T} THEN 'en'
             WHEN r_de >= r_es AND r_de >= r_fr AND r_de >= {_LANG_T}
               THEN 'de'
             WHEN r_es >= r_fr AND r_es >= {_LANG_T} THEN 'es'
             WHEN r_fr >= {_LANG_T} THEN 'fr'
             ELSE 'other' END AS lang_pred
    FROM r
    """,
)
def lang_id_multi(spark, sf_dir):
    """Multilingual language ID (build brief): per-language function-
    word hit ratios, argmax with a fixed priority order (en > de > es >
    fr) and an 0.08 floor — the n-gram-free heuristic a corpus triage
    pass runs before an expensive model.  All JVM-side expressions."""
    from ...operators.quality import lang_ratios

    docs = load_table(spark, sf_dir, "documents")
    r = docs.select("doc_id", *lang_ratios(F.col("text")))
    t = F.lit(_LANG_T)
    pred = (
        F.when(
            (F.col("r_en") >= F.col("r_de"))
            & (F.col("r_en") >= F.col("r_es"))
            & (F.col("r_en") >= F.col("r_fr"))
            & (F.col("r_en") >= t),
            "en",
        )
        .when(
            (F.col("r_de") >= F.col("r_es"))
            & (F.col("r_de") >= F.col("r_fr"))
            & (F.col("r_de") >= t),
            "de",
        )
        .when((F.col("r_es") >= F.col("r_fr")) & (F.col("r_es") >= t), "es")
        .when(F.col("r_fr") >= t, "fr")
        .otherwise("other")
    )
    return r.select("doc_id", pred.alias("lang_pred"))


@q(
    "quality_repetition",
    f"""
    WITH nw AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(w) < 2 THEN []
                  ELSE [array_to_string(w[i:i+1], ' ')
                        for i in generate_series(1, len(w) - 1)] END AS grams
      FROM nw
    ),
    g AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
    agg AS (
      SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c) AS top_gram_count,
             round(max(c) * 1.0 / sum(c), 6) AS repetition
      FROM pg GROUP BY doc_id
    )
    SELECT nw.doc_id,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(top_gram_count, 0) AS top_gram_count,
           coalesce(repetition, 0.0) AS repetition
    FROM nw LEFT JOIN agg ON nw.doc_id = agg.doc_id
    """,
)
def quality_repetition(spark, sf_dir):
    """Repetition filter (Gopher rule family): fraction of word
    2-grams taken by the single most common 2-gram.  Looping /
    templated text -> ~1.0, prose -> low.  Two partial-aggregated
    shuffles; no Python."""
    from ...operators.quality import repetition_stats

    docs = _spread(spark, load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    return repetition_stats(docs, n=2)


_GQ_STOPS = ", ".join(f"'{w}'" for w in [
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "as",
    "was", "on", "are", "by", "this", "be", "or", "an", "a", "it",
])


@q(
    "quality_gopher_flags",
    f"""
    WITH {_WORDS_SQL},
    m AS (
      SELECT doc_id, len(w) AS wc,
             CASE WHEN len(w) > 0
                  THEN list_sum(list_transform(w, x -> length(x))) * 1.0
                       / len(w)
                  ELSE 0.0 END AS mean_wl,
             CASE WHEN len(w) > 0
                  THEN len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                       * 1.0 / len(w)
                  ELSE 0.0 END AS alpha_ratio,
             len(list_distinct(list_filter(w,
               x -> list_contains([{_GQ_STOPS}], x)))) AS n_stops
      FROM t
    )
    SELECT doc_id,
           CASE WHEN wc >= 50 AND wc <= 100000 THEN 1 ELSE 0 END
             AS flag_word_count,
           CASE WHEN mean_wl >= 3.0 AND mean_wl <= 10.0 THEN 1 ELSE 0 END
             AS flag_mean_word_len,
           CASE WHEN alpha_ratio >= 0.8 THEN 1 ELSE 0 END AS flag_alpha_ratio,
           CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END AS flag_stopwords,
           (CASE WHEN wc >= 50 AND wc <= 100000 THEN 1 ELSE 0 END)
           * (CASE WHEN mean_wl >= 3.0 AND mean_wl <= 10.0 THEN 1 ELSE 0 END)
           * (CASE WHEN alpha_ratio >= 0.8 THEN 1 ELSE 0 END)
           * (CASE WHEN n_stops >= 2 THEN 1 ELSE 0 END) AS gopher_pass
    FROM m
    """,
)
def quality_gopher_flags(spark, sf_dir):
    """Gopher word-level corpus-filter rules as flag columns (word
    count band, mean word length band, alphabetic-word ratio, distinct
    stopword presence) — the canonical web-corpus quality gate, all
    higher-order functions."""
    from ...operators.quality import gopher_quality_flags

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", *gopher_quality_flags(F.col("text")))


@q(
    "scrub_urls_emails",
    r"""
    WITH t AS (
      SELECT doc_id,
             text || ' Contact user' || doc_id ||
             '@example.com or https://data.example.org/d/' || doc_id ||
             ' for source.' AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id, text,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g')
               AS no_url
      FROM t
    )
    SELECT doc_id,
           len(regexp_extract_all(text, 'https?://[^\s]+'))::INT
             AS n_urls,
           len(regexp_extract_all(
             no_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
           ))::INT AS n_emails,
           md5(regexp_replace(
             no_url, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'
           )) AS clean_hash
    FROM s
    """,
)
def scrub_urls_emails(spark, sf_dir):
    """URL/e-mail scrubbing (training-data hygiene): placeholder-token
    redaction + counts, pure RE2-safe regex projections (zero Python,
    zero shuffles).  The synthetic contact suffix guarantees every row
    exercises both patterns; clean_hash pins the exact redacted text."""
    from ...operators import quality as Qx

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id"),
            F.lit("@example.com or https://data.example.org/d/"),
            F.col("doc_id"),
            F.lit(" for source."),
        ).alias("text"),
    )
    no_url = F.regexp_replace(F.col("text"), Qx.URL_RE, "<URL>")
    return t.select(
        "doc_id",
        Qx.url_count(F.col("text")).cast("int").alias("n_urls"),
        Qx.email_count(no_url).cast("int").alias("n_emails"),
        F.md5(
            F.regexp_replace(no_url, Qx.EMAIL_RE, "<EMAIL>")
        ).alias("clean_hash"),
    )


@q(
    "scrub_pii",
    r"""
    WITH t AS (
      SELECT doc_id,
             text || ' Call +1 415-555-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
             ' or ping 10.' || (doc_id % 256) || '.0.' ||
             (doc_id % 100) || ' card 4111-1111-1111-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
             ' ref 9' || lpad((doc_id % 100000)::VARCHAR, 12, '0') ||
             ' today.' AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id, text,
             regexp_replace(regexp_replace(regexp_replace(text,
               'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS no_ip
      FROM t
    ),
    s2 AS (
      SELECT doc_id, text, no_ip,
             regexp_replace(no_ip,
               '(^[ \-]*|[^\d \-][ \-]*)((?:\d{4}[ -]?){3}\d{4})($|[^\d \-]|[ \-]+[^\d \-]|[ \-]+$)',
               '\1<CARD>\3', 'g') AS no_card1
      FROM s
    ),
    s3 AS (
      SELECT doc_id, text, no_ip, no_card1,
             regexp_replace(no_card1,
               '(^[ \-]*|[^\d \-][ \-]*)((?:\d{4}[ -]?){3}\d{4})($|[^\d \-]|[ \-]+[^\d \-]|[ \-]+$)',
               '\1<CARD>\3', 'g') AS no_card
      FROM s2
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
             '\b(?:\d{1,3}\.){3}\d{1,3}\b'))::INT AS n_ips,
           (len(regexp_extract_all(no_ip,
             '(^[ \-]*|[^\d \-][ \-]*)((?:\d{4}[ -]?){3}\d{4})($|[^\d \-]|[ \-]+[^\d \-]|[ \-]+$)'
           )) + len(regexp_extract_all(no_card1,
             '(^[ \-]*|[^\d \-][ \-]*)((?:\d{4}[ -]?){3}\d{4})($|[^\d \-]|[ \-]+[^\d \-]|[ \-]+$)'
           )))::INT AS n_cards,
           len(regexp_extract_all(no_card,
             '(^|[^\d])(?:\+?\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b'
           ))::INT AS n_phones,
           md5(regexp_replace(no_card,
             '(^|[^\d])(?:\+?\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b',
             '\1<PHONE>', 'g')) AS clean_hash
    FROM s3
    """,
)
def scrub_pii(spark, sf_dir):
    """Full PII redaction (operators/quality.scrub_pii): URL -> email
    -> IPv4 -> 16-digit card (guarded on BOTH sides so 17+-digit
    grouped runs are never half-eaten) -> LEFT-ANCHORED phone
    placeholder tokens, all RE2-safe patterns so the DuckDB oracle
    matches byte-for-byte (guards are captured and re-emitted via
    $1/$3 / \\1/\\3 — RE2 has no lookaround); per-doc synthetic
    suffix (doc_id-derived phone + IP + card + a 13-digit order-ref
    run that must SURVIVE redaction) exercises every pattern AND the
    long-run no-match contract in the value hash.  Pure regex
    projections — zero Python, zero shuffles."""
    from ...operators import quality as Qx

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Call +1 415-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" or ping 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" card 4111-1111-1111-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ref 9"),
            F.lpad((F.col("doc_id") % 100000).cast("string"), 12, "0"),
            F.lit(" today."),
        ).alias("text"),
    )
    no_ip = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), Qx.URL_RE, "<URL>"),
            Qx.EMAIL_RE,
            "<EMAIL>",
        ),
        Qx.IPV4_RE,
        "<IP>",
    )
    # twice, like the operator: the consuming right guard can starve
    # an adjacent second card's left guard within one pass
    no_card = F.regexp_replace(
        F.regexp_replace(no_ip, Qx.CARD_RE, "$1<CARD>$3"),
        Qx.CARD_RE,
        "$1<CARD>$3",
    )
    return t.select(
        "doc_id",
        Qx.ip_count(F.col("text")).cast("int").alias("n_ips"),
        Qx.card_count(no_ip).cast("int").alias("n_cards"),
        Qx.phone_count(no_card).cast("int").alias("n_phones"),
        F.md5(
            F.regexp_replace(no_card, Qx.PHONE_RE, "$1<PHONE>")
        ).alias("clean_hash"),
    )
