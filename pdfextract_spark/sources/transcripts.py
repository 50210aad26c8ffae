"""Deterministic synthetic transcript table (BASELINE.json input_hint).

Builds the ``(conv_id, turn_idx, role, text, tool, ts)`` transcript
table from the driver's ``documents`` parquet — deterministically (no
RNG, no wall clock), entirely inside Spark so generation scales with
the input.  Each document row fans out into ``turns_per_doc`` turns;
every turn's text is decorated into one of 9 scenarios (FIXTURES.md §3)
that exercise specific reference behaviors: titles, numbered refs,
hanging-indent refs, spacing-split refs, ligatures, name-dense text,
ref-header noise, plain paragraphs, and two-column papers.

The fan-out (explode of a per-row sequence) and the key derivations
are pure Catalyst expressions; only the final text templating runs in
a vectorized pandas stage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.names import NAME_ROWS

_SCENARIOS = 9
_NAMES = [n for n, amb in NAME_ROWS if not amb]

# the single schema authority lives in tables.py — a local copy here
# would silently drift when the DDL changes
from ..worker import settle_worker
from .tables import TRANSCRIPT_DDL as _OUT_SCHEMA


def _decorate(doc_words: list[str], seq: int, scenario: int) -> str:
    """Deterministic scenario templating for one turn."""
    w = doc_words if doc_words else ["filler"]

    def words(n: int, off: int = 0) -> str:
        return " ".join(w[(off + i) % len(w)] for i in range(n))

    title = " ".join(x.capitalize() for x in w[:4])[:48]
    body1 = words(90, seq % 7)
    body2 = words(80, seq % 11 + 3)

    name = _NAMES[seq % len(_NAMES)]
    name2 = _NAMES[(seq * 3 + 1) % len(_NAMES)]

    def numbered_refs(n: int = 5) -> str:
        return " ".join(
            f"[{i}] {_NAMES[(seq + i) % len(_NAMES)]}, "
            f"{chr(65 + i % 26)}. ({1991 + i}). "
            f"{words(6, seq + i)}. Vol {i + 10}."
            for i in range(1, n + 1)
        )

    if scenario == 0:  # plain paragraphs
        return f"{body1}\n\n{body2}"
    if scenario == 1:  # title page
        return f"{title}\n\n{body1}\n\n{body2}"
    if scenario == 2:  # numbered refs
        return f"{title}\n\n{body1}\n\nReferences\n\n{numbered_refs()}"
    if scenario == 3:  # hanging-indent refs (margin split)
        # each ref: a long first line (wraps at x_offset 0) plus an
        # indented continuation -> multi-margin section, 2nd-most-
        # frequent floor(x_offset) delimits (references.rb:66-71)
        refs = "\n".join(
            f"{_NAMES[(seq + i) % len(_NAMES)]}, {chr(65 + i)}. ({1990 + i}). "
            f"{words(16, i)}.\n    {words(15, i + 2)} end."
            for i in range(4)
        )
        return f"{title}\n\n{body1}\n\n{refs}"
    if scenario == 4:  # spacing-split refs (hard-break gaps)
        # long refs separated by hard breaks: the extra leading after
        # '\n' gives a distinct floor(spacing) -> spacing split
        # (references.rb:73-78)
        refs = "\n".join(
            f"{_NAMES[(seq + i) % len(_NAMES)]} ({1990 + i}) {words(20, i)} fin."
            for i in range(4)
        )
        return f"{title}\n\n{body1}\n\n{refs}"
    if scenario == 5:  # ligatures + curly punctuation
        return (
            f"{title}\n\nThe eﬀort to reﬁne “{words(3)}” and ﬂow—"
            f"{body1}\n\n{body2}"
        )
    if scenario == 6:  # name-dense
        dense = " ".join(
            f"{_NAMES[(seq + i) % len(_NAMES)]} and {name2} met {name}"
            for i in range(12)
        )
        return f"{title}\n\n{dense}\n\n{body2}"
    if scenario == 7:  # ref-header noise + year trap in body
        return (
            f"{title}\n\n{body1} (1987) and (1992) appear here.\n\n"
            f"References\n\n{numbered_refs(4)}"
        )
    # scenario 8: two-column paper with numbered refs (typeset.COLUMN_MARKER
    # flows the body into two columns; exercises scanline detection and
    # the per-column section sweep at scale)
    return (
        f"{title}\n\n<<2col>>\n\n{words(160, seq % 5)}\n\n"
        f"{words(150, seq % 9 + 2)}\n\nReferences\n\n{numbered_refs(5)}"
    )


def synth_transcripts(
    spark: SparkSession,
    sf_dir: str,
    turns_per_doc: int = 1,
    convs: int = 0,
) -> DataFrame:
    """documents.parquet -> transcripts DataFrame.

    conv assignment, turn ordering, role cycling, and timestamps are
    Catalyst expressions; conv sizes are deliberately skewed (doc_id
    bucketing by a power law-ish modulus) to exercise the skew story
    at conv-level rollups.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    if convs <= 0:
        n_docs = docs.count()
        convs = max(n_docs * turns_per_doc // 24, 1)

    fanned = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), F.lit(turns_per_doc - 1))).alias("variant"),
    ).select(
        "doc_id",
        "text",
        "variant",
        (F.col("doc_id") * turns_per_doc + F.col("variant")).alias("seq"),
    )
    # skew knob: conv 0 absorbs every seq divisible by 8 (a "long
    # conversation" ~8x the median size); others hash uniformly.
    fanned = fanned.withColumn(
        "conv_key",
        F.when(F.col("seq") % 8 == 0, F.lit(0)).otherwise(
            F.pmod(F.xxhash64(F.col("seq")), F.lit(convs - 1) if convs > 1 else F.lit(1)) + 1
        ),
    )

    def gen(batches):
        settle_worker()
        for pdf in batches:
            # the transcript contract types turn_idx as int (32-bit);
            # numpy astype('int32') would WRAP silently past 2^31,
            # breaking the globally-unique-and-monotone invariant and
            # corrupting bucket keys — fail loudly instead
            if len(pdf) and int(pdf["seq"].max()) > 2**31 - 1:
                raise ValueError(
                    "turn_idx (= doc_id * turns_per_doc + variant) "
                    "exceeds int32 — reduce turns_per_doc/mirrors or "
                    "widen the transcript schema before synthesizing "
                    "at this scale"
                )
            texts = []
            for doc_text, seq in zip(pdf["text"], pdf["seq"]):
                words = str(doc_text or "").split()
                scenario = int(seq) % _SCENARIOS
                texts.append(_decorate(words, int(seq), scenario))
            roles = ["user", "assistant", "tool"]
            out = pd.DataFrame(
                {
                    "conv_id": "conv-" + pdf["conv_key"].astype(str),
                    "turn_idx": pdf["seq"].astype("int32"),
                    "role": [roles[int(s) % 3] for s in pdf["seq"]],
                    "text": texts,
                    "tool": [
                        "search" if int(s) % 3 == 2 else None for s in pdf["seq"]
                    ],
                    "ts": pd.Timestamp("2024-01-01")
                    + pd.to_timedelta(pdf["seq"].astype("int64"), unit="s"),
                }
            )
            yield out

    out = fanned.mapInPandas(gen, schema=_OUT_SCHEMA)
    # dense, stable turn ordering within conv: turn_idx is globally
    # unique and monotone per conv by construction; re-rank to dense
    # per-conv indices downstream when required (Window.partitionBy).
    return out
