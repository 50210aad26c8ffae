"""Text statistics as Catalyst column expressions (SURVEY.md F1-F5, F8,
F13; language.rb).

These are the JVM-side, codegen-friendly equivalents of
core/language.py — used when the stats run over exploded DataFrames
(and as the SQL-checkable surface for the driver's DuckDB oracle).
cap_ratio's sentence-state scan is the one member that cannot be a
pure expression; it stays in the per-turn kernel.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the letter_ratio character class (language.rb:40-42)
_LETTER_CLASS = "[^A-Z0-9\\-\\[\\],.\"'()]"

_TRANSLIT_FROM = "ﬀﬁﬂﬃﬄﬅﬆᵫ‘’–—“”▯´±"


def transliterate(col: Column) -> Column:
    """F1 (language.rb:5-38).  Multi-char expansions via replace chain,
    single-char maps via translate, then whitespace collapse."""
    c = col
    for src, dst in [
        ("ﬀ", "ff"), ("ﬁ", "fi"), ("ﬂ", "fl"),
        ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬅ", "ft"),
        ("ﬆ", "st"), ("ᵫ", "ue"),
    ]:
        c = F.replace(c, F.lit(src), F.lit(dst))
    c = F.translate(c, "‘’–—“”▯±", "''--\"\"(-")
    c = F.replace(c, F.lit("´"), F.lit(""))
    return F.regexp_replace(c, r"\s+", " ")


def letter_ratio(col: Column) -> Column:
    """F2: count of chars in the reference set / length."""
    kept = F.length(F.regexp_replace(col, _LETTER_CLASS, ""))
    return kept.cast("double") / F.length(col)


def word_count(col: Column) -> Column:
    """F5: whitespace-split word count (split on \\s+, trimmed)."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def year_ratio(col: Column) -> Column:
    """F4: fraction of words matching /[^\\d]\\d{4}[^\\d]/."""
    words = F.split(F.trim(col), r"\s+")
    matches = F.filter(words, lambda w: w.rlike(r"[^\d]\d{4}[^\d]"))
    return F.size(matches).cast("double") / F.size(words)


def collapse_ws(col: Column) -> Column:
    """F8 (spatial.rb:61)."""
    return F.regexp_replace(col, r"\s+", " ")


def hyphen_join(lines_col: Column) -> Column:
    """F7 (spatial.rb:98-112): join an array<string> of lines with the
    hyphen rule — a line ending '-' contributes content minus the
    hyphen and no space.  Expressed as aggregate() over the array:
    stays JVM-side."""
    stitched = F.aggregate(
        lines_col,
        F.lit(""),
        lambda acc, x: F.concat(
            acc,
            F.when(x.endswith("-"), F.substring(x, 1, F.length(x) - 1)).otherwise(
                F.concat(x, F.lit(" "))
            ),
        ),
    )
    return F.trim(stitched)
