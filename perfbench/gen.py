"""Seeded input generation for the benchmark.

Every input is a pure function of the seed and of the sample of the
sf0.1 tables in ``perfbench/data`` (made by ``perfbench/sample.py``):
the same seed gives identical tables (and so the same digest), a
different seed gives different ones.

- ``operator_suite``: the sample's ``documents`` (first ``docs`` rows),
  ``orders``, ``lineitem`` and ``events``, the same for every seed, and
  ``query_order``, the seeded order the suite runs its queries in.
- ``extract_docs``: document-like transcript turns, each a seeded draw
  of a sample document laid out through one of the nine scenario
  templates of ``sources.transcripts`` (titles, numbered /
  hanging-indent / spacing-split references, ligatures, name-dense
  text, ref-header noise, plain paragraphs, two-column papers).
- ``extract_job``: a chat-like mix, mostly turns of one to three short
  sentences cut from sample documents, plus about 10% document-like
  turns as above.

The templates are the program's own, so a change to them changes the
inputs; the digest recorded with every result shows when that happens.
"""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdfextract_spark.sources.transcripts import _decorate

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SCENARIOS = 9
CHAT_DOC_SHARE = 0.10

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


@functools.cache
def sample(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


@functools.cache
def doc_words() -> list[list[str]]:
    return [t.split() for t in sample("documents").column("text").to_pylist()]


def chat(rng: random.Random, docs: list[list[str]]) -> str:
    """A short chat turn: one to three sentences of 4-14 consecutive
    words of a sample document."""
    out = []
    for _ in range(rng.randint(1, 3)):
        words = rng.choice(docs)
        n = min(rng.randint(4, 14), len(words))
        i = rng.randrange(len(words) - n + 1)
        out.append(" ".join(words[i : i + n]).capitalize() + rng.choice(".?!"))
    return " ".join(out)


def transcripts(texts: list[str], n_convs: int) -> pa.Table:
    """Transcript table over ``texts``; turn_idx is the position, and
    conv 0 takes every 8th turn (a long, skewed conversation, as in
    ``sources.transcripts``)."""
    roles = ("user", "assistant", "tool")
    t0 = dt.datetime(2024, 1, 1)
    n = len(texts)
    return pa.table(
        {
            "conv_id": [
                "conv-0" if i % 8 == 0 else f"conv-{1 + i % max(n_convs - 1, 1)}"
                for i in range(n)
            ],
            "turn_idx": pa.array(range(n), pa.int32()),
            "role": [roles[i % 3] for i in range(n)],
            "text": texts,
            "tool": ["search" if i % 3 == 2 else None for i in range(n)],
            "ts": [t0 + dt.timedelta(seconds=i) for i in range(n)],
        },
        schema=TRANSCRIPT_SCHEMA,
    )


def scenarios(rng: random.Random, n: int) -> list[int]:
    """Each of the nine scenarios the same number of times (to within
    one), in a seeded order: the mix, and so the kernel's cost, does
    not drift with the seed."""
    out = [i % SCENARIOS for i in range(n)]
    rng.shuffle(out)
    return out


def docs_turns(rng: random.Random, n_turns: int) -> pa.Table:
    docs = doc_words()
    texts = [
        _decorate(rng.choice(docs), i, s)
        for i, s in enumerate(scenarios(rng, n_turns))
    ]
    return transcripts(texts, max(n_turns // 24, 2))


def chat_turns(rng: random.Random, n_turns: int) -> pa.Table:
    """Exactly ``CHAT_DOC_SHARE`` of the turns are document-like, at
    seeded positions; the rest are chat turns."""
    docs = doc_words()
    n_doc = round(CHAT_DOC_SHARE * n_turns)
    is_doc = [True] * n_doc + [False] * (n_turns - n_doc)
    rng.shuffle(is_doc)
    scen = iter(scenarios(rng, n_doc))
    texts = [
        _decorate(rng.choice(docs), i, next(scen)) if d else chat(rng, docs)
        for i, d in enumerate(is_doc)
    ]
    return transcripts(texts, max(n_turns // 24, 2))


def digest(tables: dict[str, pa.Table]) -> str:
    """Content digest over the tables' Arrow IPC encoding, by name."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def generate(
    seed: int, workload: str, sizes: dict[str, int], queries: tuple[str, ...] = ()
) -> dict[str, pa.Table]:
    """All tables ``workload`` reads, from ``seed`` alone.  The operator
    suite's tables are fixed and the seed sets the order of
    ``queries`` (kept as the one-column table ``query_order``), so
    suite timings do not move with data-dependent plan shapes such as
    the number of connected-component rounds."""
    if workload == "operator_suite":
        order = list(queries)
        random.Random(f"{workload}:{seed}").shuffle(order)
        return {
            "documents": sample("documents").slice(0, sizes["docs"]),
            **{t: sample(t) for t in ("orders", "lineitem", "events")},
            "query_order": pa.table({"query": order}),
        }
    rng = random.Random(f"{workload}:{seed}")
    if workload == "extract_docs":
        return {"transcripts": docs_turns(rng, sizes["turns"])}
    if workload == "extract_job":
        return {"transcripts": chat_turns(rng, sizes["turns"])}
    raise ValueError(f"unknown workload {workload!r}")
