"""Text-analysis operators for training-data pipelines: language-ID,
quality scoring, token counting, document fingerprinting (per the
build brief; complements SURVEY.md §2.7).

All pure Catalyst expressions: lowercase/split/regexp/aggregate — no
Python in the hot path, and each has an exact DuckDB-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import normalize_text

# A compact high-frequency English function-word set for language ID
# (subset of the reference's stopword list, data/stopwords.txt).
LANG_EN_MARKERS = [
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "as",
    "was", "on", "are", "by", "this", "be", "or", "an", "a", "it",
]

# BPE-ish tokenizer: letter runs, digit runs, or single non-space
# symbols (approximates byte-pair pre-tokenization granularity).
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def word_tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    words = word_tokens(col)
    sw = F.array(*[F.lit(w) for w in (stopwords or LANG_EN_MARKERS)])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    return F.when(F.size(words) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(words)
    )


def lang_id_en(col: Column, threshold: float = 0.08) -> Column:
    """n-gram-free heuristic language ID: 'en' when the function-word
    hit ratio clears the threshold, else 'other'."""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(
        F.lit("other")
    )


def punct_ratio(col: Column) -> Column:
    p = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(
        p.cast("double") / F.length(col)
    )


def mean_word_len(col: Column) -> Column:
    words = word_tokens(col)
    total = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    return F.when(F.size(words) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(words)
    )


def quality_score(col: Column) -> Column:
    """Composite document quality in [0,1]: length band + stopword
    presence + punctuation sanity + word-length sanity.  Heuristic
    weights fixed and documented; deterministic."""
    n = F.length(col)
    len_ok = F.when((n >= 200) & (n <= 20000), 1.0).when(
        (n >= 50) & (n < 200), 0.5
    ).otherwise(0.0)
    sw = stopword_ratio(col)
    sw_ok = F.when(sw >= 0.08, 1.0).when(sw >= 0.03, 0.5).otherwise(0.0)
    pr = punct_ratio(col)
    punct_ok = F.when(pr <= 0.1, 1.0).when(pr <= 0.25, 0.5).otherwise(0.0)
    mwl = mean_word_len(col)
    mwl_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.0)
    return (
        len_ok * 0.3 + sw_ok * 0.3 + punct_ok * 0.2 + mwl_ok * 0.2
    ).alias("quality")


def char_shingle_fingerprint(col: Column, k: int = 8) -> Column:
    """Document fingerprint: min over k-char shingles of the normalized
    text of the shingle's 12-hex md5 prefix (winnowing-style
    rolling-hash min).  Fixed-width lowercase hex compares
    lexicographically == numerically, so the string min is the
    numeric min — stable and SQL-reproducible (any engine with md5)."""
    t = normalize_text(col)
    n = F.length(t)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    shingles = F.transform(idx, lambda i: F.substring(t, i, k))
    return F.array_min(
        F.transform(shingles, lambda s: F.substring(F.md5(s), 1, 12))
    )


LANG_FUNCTION_WORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "es": ["el", "los", "las", "es", "y", "que", "un", "una", "para", "como"],
    "fr": ["le", "les", "et", "est", "dans", "pour", "une", "des", "au", "sur"],
}


def lang_ratios(col: Column) -> list[Column]:
    """Per-language function-word hit ratios (r_en, r_de, r_es, r_fr):
    the feature vector behind multilingual language-ID triage.  All
    higher-order-function expressions — JVM-side, zero Python."""
    words = word_tokens(col)
    out = []
    for lang, lst in LANG_FUNCTION_WORDS.items():
        arr = F.array(*[F.lit(w) for w in lst])
        hits = F.size(F.filter(words, lambda x: F.array_contains(arr, x)))
        out.append(
            F.when(F.size(words) == 0, F.lit(0.0))
            .otherwise(hits.cast("double") / F.size(words))
            .alias(f"r_{lang}")
        )
    return out


def repetition_stats(
    df, text_col: str = "text", id_col: str = "doc_id", n: int = 2
):
    """Repetition signal (Gopher-style filter: fraction of n-grams
    taken by the single most common n-gram).  Heavily-templated or
    looping text scores near 1.0; natural prose stays low.  Shape:
    explode n-grams -> per-(doc, gram) counts -> per-doc max/total —
    two partial-aggregated shuffles on (doc, gram) then doc."""
    from pyspark.sql import functions as F

    from .dedup import word_shingles

    grams = df.select(
        F.col(id_col),
        F.explode_outer(word_shingles(F.col(text_col), n)).alias("g"),
    )
    per_gram = grams.groupBy(id_col, "g").agg(F.count("g").alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_grams"),
        F.coalesce(F.max("c"), F.lit(0)).alias("top_gram_count"),
        F.round(
            F.when(
                F.sum("c") > 0,
                F.max("c").cast("double") / F.sum("c").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("repetition"),
    )


def gopher_quality_flags(col: Column) -> list[Column]:
    """The word-level subset of the Gopher corpus-filter rules as
    integer flag columns: word count in [50, 100000], mean word length
    in [3, 10], >= 80% of words containing an alphabetic character,
    and >= 2 distinct English stopwords present.  A doc passing all
    four is 'gopher_pass'."""
    from pyspark.sql import functions as F

    words = word_tokens(col)
    wc = F.size(words)
    mean_wl = F.when(wc > 0,
        F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w)).cast(
            "double"
        )
        / wc,
    ).otherwise(F.lit(0.0))
    alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_ratio = F.when(wc > 0, alpha.cast("double") / wc).otherwise(
        F.lit(0.0)
    )
    stop_arr = F.array(*[F.lit(w) for w in LANG_EN_MARKERS])
    distinct_stops = F.size(
        F.array_distinct(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    )
    f_wc = F.when((wc >= 50) & (wc <= 100000), 1).otherwise(0)
    f_wl = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1).otherwise(0)
    f_alpha = F.when(alpha_ratio >= 0.8, 1).otherwise(0)
    f_stop = F.when(distinct_stops >= 2, 1).otherwise(0)
    return [
        f_wc.alias("flag_word_count"),
        f_wl.alias("flag_mean_word_len"),
        f_alpha.alias("flag_alpha_ratio"),
        f_stop.alias("flag_stopwords"),
        (f_wc * f_wl * f_alpha * f_stop).alias("gopher_pass"),
    ]


# --- URL / email scrubbing (training-data hygiene) -----------------------

URL_RE = r"https?://[^\s]+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def _quote_replacement(token: str) -> str:
    """Escape Java-regex replacement metacharacters ('\\' and '$') so
    arbitrary caller tokens are inserted literally (the semantics of
    java.util.regex.Matcher.quoteReplacement)."""
    return token.replace("\\", "\\\\").replace("$", "\\$")


def scrub_urls_emails(
    col: Column, url_token: str = "<URL>", email_token: str = "<EMAIL>"
) -> Column:
    """Replace URLs then e-mail addresses with placeholder tokens —
    both patterns are RE2-safe (no backrefs), so any engine's regex
    evaluates them identically.  URL replacement runs first so an
    address embedded in a URL is consumed by the URL token."""
    clean = F.regexp_replace(col, URL_RE, _quote_replacement(url_token))
    return F.regexp_replace(clean, EMAIL_RE, _quote_replacement(email_token))


def url_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(URL_RE))


def email_count(col: Column) -> Column:
    """Callers wanting counts disjoint from URLs should count on the
    URL-scrubbed column; this counts raw matches in the given one."""
    return F.regexp_count(col, F.lit(EMAIL_RE))


# --- PII scrubbing (phones, cards, IPv4) ----------------------------------
# All patterns are RE2-safe (no backrefs/lookaround, ASCII \d and \b),
# so Java regex (Spark) and RE2 (DuckDB) match identically.  Redaction
# order matters: URL -> email -> IP -> card -> phone, so an address
# inside a URL is consumed by the URL token, an IP is never half-eaten
# by the looser phone pattern, and a 16-digit card never leaves a
# phone-shaped tail (placeholder tokens contain no digits).
#
# PHONE_RE anchors the LEFT side with a captured (^|[^\d]) guard — RE2
# has no lookbehind, so the guard character is consumed and must be
# re-emitted via the $1 / \1 backreference in the replacement
# (PHONE_REPL below; mirror with '\1<PHONE>' in SQL engines).  Without
# it the trailing 10-12 digits of any longer digit run (order ids,
# hashes, timestamps) matched and got redacted; with it a 13+-digit
# run never matches (max consumable is 12 and the trailing \b forbids
# stopping mid-run), which the unit test pins.

IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_BODY_RE = r"(?:\+?\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b"
PHONE_RE = r"(^|[^\d])" + PHONE_BODY_RE
# 16-digit card-shaped runs, contiguous or in 4-groups ('1234 5678
# 9012 3456' / '1234-5678-9012-3456').  Both sides carry captured
# guards (RE2 has no lookaround, so the guard chars are consumed and
# re-emitted via \1 / \3): a match may not START after digits or a
# digit+separator run, and may not END before a separator+digit
# continuation — so '1234-5678-9012-3456-7890' (a 20-digit grouped
# order id) and '4111 1111 1111 1111 945' (19-digit grouped run) are
# left UNTOUCHED instead of losing their first 16 digits, the same
# no-half-eaten-number contract the phone pattern pins.  Conservative
# corollary (documented, intended): two cards separated by ONLY a
# space or dash read as one longer grouped run and are both skipped —
# indistinguishable from a long order id without lookahead.
CARD_RE = (
    r"(^[ \-]*|[^\d \-][ \-]*)"
    r"((?:\d{4}[ -]?){3}\d{4})"
    r"($|[^\d \-]|[ \-]+[^\d \-]|[ \-]+$)"
)
# The consuming right guard means a match eats the character that
# would anchor the NEXT card's left guard ('...1111, 5500 0000 0000
# 0004.' — the comma is consumed, so the second card sees only a
# space and is skipped).  Applying the replace TWICE closes this
# exactly: every pass-1 skip still has its full left context in the
# pass-1 OUTPUT (guards are re-emitted, only the scan position
# consumed them), and two pass-1 skips can never be adjacent (a skip
# requires a MATCH immediately before it), so pass 2 catches every
# one and a third pass finds nothing — the replace is idempotent
# after two passes.  ``card_count`` mirrors with count(text) +
# count(once-replaced text); placeholder tokens contain no digits,
# so nothing double-counts.


def scrub_pii(
    col: Column,
    url_token: str = "<URL>",
    email_token: str = "<EMAIL>",
    ip_token: str = "<IP>",
    phone_token: str = "<PHONE>",
    card_token: str = "<CARD>",
) -> Column:
    """Full redaction pass for training-data hygiene: URLs, e-mail
    addresses, IPv4 addresses, 16-digit card-shaped runs, then
    phone-shaped digit runs, each replaced by a placeholder token.
    Digit runs of 13+ that are neither card- nor IP-shaped (order
    ids, hashes, timestamps) are intentionally left intact — the
    phone pattern is left-anchored so it cannot redact the tail of a
    longer run, and the card pattern is guarded on BOTH sides so a
    17+-digit grouped sequence is never half-eaten either.  Pure
    regex projections — zero Python, zero shuffles."""
    clean = scrub_urls_emails(col, url_token, email_token)
    clean = F.regexp_replace(clean, IPV4_RE, _quote_replacement(ip_token))
    card_repl = "$1" + _quote_replacement(card_token) + "$3"
    # twice: the consuming right guard can starve the NEXT card's
    # left guard within one pass (see the CARD_RE comment); pass 2
    # provably catches every pass-1 skip and is then idempotent
    clean = F.regexp_replace(clean, CARD_RE, card_repl)
    clean = F.regexp_replace(clean, CARD_RE, card_repl)
    return F.regexp_replace(
        clean, PHONE_RE, "$1" + _quote_replacement(phone_token)
    )


def ip_count(col: Column) -> Column:
    """Raw IPv4 matches in the given column (count on the URL-scrubbed
    text for counts disjoint from URLs)."""
    return F.regexp_count(col, F.lit(IPV4_RE))


def card_count(col: Column) -> Column:
    """Raw 16-digit card-shaped matches (count on the IP-scrubbed text
    for counts disjoint from IPv4 addresses).  Two-pass like the
    scrub (see the CARD_RE comment): pass 1's consuming right guard
    can hide an adjacent second card, so the count adds the matches a
    second pass finds on the once-replaced text (tokens are
    digit-free — nothing double-counts)."""
    once = F.regexp_replace(col, CARD_RE, "$1<CARD>$3")
    return F.regexp_count(col, F.lit(CARD_RE)) + F.regexp_count(
        once, F.lit(CARD_RE)
    )


def phone_count(col: Column) -> Column:
    """Raw phone-shaped matches (count on the card-scrubbed text for
    counts disjoint from IPv4/card runs).  Left-anchored like the
    scrub: the tail of a 13+-digit run does not count."""
    return F.regexp_count(col, F.lit(PHONE_RE))
