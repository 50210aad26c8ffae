"""The end-to-end extraction plan (SURVEY.md §3 "Our Spark lifecycle").

Every stage of the reference pipeline is page/document-local
(pdf.rb:127-162) and a turn plays the role of a document, so the whole
chars -> chunks -> regions -> margins -> zones -> columns -> sections
-> titles -> references cascade is a pure function of one row's text.
The plan is therefore a single narrow ``mapInArrow`` over the
transcript table: **zero shuffles**, no driver collection, perfectly
linear scaling with executors.  Explicit ``repartition`` by
``xxhash64(conv_id, turn_idx)`` balances input splits when the source
layout is skewed (long conversations landing in one file).

Arrow batches cross the JVM/Python boundary once; inside the batch the
per-turn kernel (core/pipeline.py) does the sequential merges the
reference defines (the parts Catalyst cannot express without semantic
drift — SURVEY.md §4).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core import artifact_rows, extract_turn
from ..core.language import transliterate
from ..core.spatial import get_text_content
from ..settings import DEFAULT, Settings
from ..worker import settle_worker

_D = DoubleType()
_I = IntegerType()
_S = StringType()

LINE_T = StructType(
    [
        StructField("content", _S),
        StructField("x_offset", _D),
        StructField("y_offset", _D),
        StructField("spacing", _D),
    ]
)

REGION_T = StructType(
    [
        StructField("x", _D),
        StructField("y", _D),
        StructField("width", _D),
        StructField("height", _D),
        StructField("line_height", _D),
        StructField("font", _S),
        StructField("page", _I),
        StructField("lines", ArrayType(LINE_T)),
    ]
)

COMPONENT_T = StructType(
    [
        StructField("x", _D),
        StructField("y", _D),
        StructField("width", _D),
        StructField("height", _D),
        StructField("page", _I),
    ]
)

SECTION_T = StructType(
    [
        StructField("content", _S),
        StructField("letter_ratio", _D),
        StructField("year_ratio", _D),
        StructField("cap_ratio", _D),
        StructField("name_ratio", _D),
        StructField("word_count", _I),
        StructField("lateness", _D),
        StructField("reference_score", _D),
        StructField("line_height", _D),
        StructField("font", _S),
        StructField("lines", ArrayType(LINE_T)),
        StructField("components", ArrayType(COMPONENT_T)),
    ]
)

ZONE_T = StructType(
    [
        StructField("zone", _S),
        StructField("x", _D),
        StructField("y", _D),
        StructField("width", _D),
        StructField("height", _D),
        StructField("page", _I),
    ]
)

COLUMN_T = COMPONENT_T  # same shape: a box on a page

TITLE_T = StructType(
    [
        StructField("content", _S),
        StructField("line_height", _D),
        StructField("font", _S),
    ]
)

REFERENCE_T = StructType(
    [StructField("content", _S), StructField("order", _I)]
)

CHUNK_T = StructType(
    [
        StructField("x", _D),
        StructField("y", _D),
        StructField("width", _D),
        StructField("height", _D),
        StructField("line_height", _D),
        StructField("content", _S),
        StructField("font", _S),
        StructField("page", _I),
    ]
)

CHAR_T = CHUNK_T  # same shape; content is a single glyph

MARGIN_T = StructType(
    [
        StructField("side", _S),
        StructField("x", _D),
        StructField("y", _D),
        StructField("width", _D),
        StructField("height", _D),
        StructField("page", _I),
    ]
)

METRICS_T = StructType(
    [
        StructField("chars_in", LongType()),
        StructField("chars_truncated", LongType()),
        StructField("regions_found", _I),
        StructField("sections_found", _I),
        StructField("refs_matched", _I),
    ]
)

RESULT_SCHEMA = StructType(
    [
        StructField("conv_id", _S),
        StructField("turn_idx", _I),
        StructField("role", _S),
        StructField("page_count", _I),
        StructField("title", TITLE_T),
        StructField("regions", ArrayType(REGION_T)),
        StructField("zones", ArrayType(ZONE_T)),
        StructField("columns", ArrayType(COLUMN_T)),
        StructField("sections", ArrayType(SECTION_T)),
        StructField("references", ArrayType(REFERENCE_T)),
        StructField("characters", ArrayType(CHAR_T)),
        StructField("chunks", ArrayType(CHUNK_T)),
        StructField("margins", ArrayType(MARGIN_T)),
        StructField("metrics", METRICS_T),
    ]
)


def _renderer(dtype, rnd, name=None):
    """The sink transform (xml_view.rb:24-29, 92-94) for a value of
    Spark type ``dtype``: ``rnd`` every double, transliterate every
    string field named ``content``, recurse into arrays and structs,
    copy anything else.  ``None`` when nothing under ``dtype`` changes,
    so untouched subtrees are copied without a walk."""
    if isinstance(dtype, DoubleType):
        return rnd
    if isinstance(dtype, StringType):
        return transliterate if name == "content" else None
    if isinstance(dtype, ArrayType):
        elem = _renderer(dtype.elementType, rnd)
        if elem is None:
            return None
        return lambda xs: None if xs is None else [elem(x) for x in xs]
    if isinstance(dtype, StructType):
        changed = [
            (f.name, fn)
            for f in dtype.fields
            if (fn := _renderer(f.dataType, rnd, f.name)) is not None
        ]
        if not changed:
            return None

        def render(d):
            if d is None:
                return None
            out = dict(d)
            for k, fn in changed:
                out[k] = fn(out.get(k))
            return out

        return render
    return None


# Where a RESULT_SCHEMA field is not the kernel's artifact rows
# (core.artifact_rows): the title is one nullable struct, and a section
# carries its text.  Rows keep the kernel's extra keys (page_width,
# group, ...): pa.array reads struct fields by name and ignores the rest.
_VIEWS = {
    "title": lambda res: res.get("title"),
    "sections": lambda res: [
        dict(s, content=get_text_content(s)) for s in res.get("sections") or []
    ],
}


def kernel_rows(batch, settings: Settings, kernel_want: tuple, on_error: str):
    """One Arrow batch of transcripts -> ``(conv_id, turn_idx, role,
    result)`` per row: the per-turn kernel call of every Python stage
    that extracts.  Only the four kernel inputs are converted to Python
    objects, so other columns in the batch cost nothing per row.

    ``on_error="fail"`` re-raises a kernel exception with the offending
    (conv_id, turn_idx); ``"skip"`` yields a sentinel result instead
    (``page_count = -1``, metrics carrying chars_in only).  A NULL
    ``turn_idx`` obeys ``on_error`` too."""
    names = batch.schema.names
    inputs = [
        batch.column(names.index(c)).to_pylist()
        for c in ("conv_id", "turn_idx", "role", "text")
    ]
    for conv_id, turn_idx, role, text in zip(*inputs):
        try:
            res = extract_turn(text or "", settings, want=kernel_want)
        except Exception as exc:
            if on_error == "fail":
                raise RuntimeError(
                    f"extraction failed for conv_id={conv_id!r} "
                    f"turn_idx={turn_idx}: {type(exc).__name__}: {exc}"
                ) from exc
            res = {
                "page_count": -1,
                "metrics": {
                    "chars_in": len(text or ""),
                    "chars_truncated": 0,
                    "regions_found": 0,
                    "sections_found": 0,
                    "refs_matched": 0,
                },
            }
        # permissive JSON reads keep malformed rows as all-NULL
        if turn_idx is None and on_error == "fail":
            raise RuntimeError(
                f"NULL turn_idx for conv_id={conv_id!r} "
                f"(malformed input row — permissive read?); "
                f"clean the input or pass on_error='skip'"
            )
        yield conv_id, turn_idx, role, res


# DEFAULT_ARTIFACTS is what extract() emits when ``want`` is omitted
# (matches the golden fixtures).  The full ARTIFACT_FIELDS adds the
# reference CLI's debug artifacts (--characters/--chunks/--margins),
# opt-in because a per-char row set dwarfs the real outputs.
DEFAULT_ARTIFACTS = ("title", "regions", "zones", "columns", "sections", "references")
ARTIFACT_FIELDS = DEFAULT_ARTIFACTS + ("characters", "chunks", "margins")


def extract(
    df: DataFrame,
    settings: Settings = DEFAULT,
    rendered: bool = True,
    repartition: int | None = None,
    want: tuple[str, ...] | None = None,
    on_error: str = "fail",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, ...) -> one result row
    per turn with nested extraction artifacts.

    ``rendered=True`` applies the canonical sink transform so outputs
    are fixture-comparable: every double in RESULT_SCHEMA is rounded to
    ``settings.precision`` and every ``content`` string transliterated
    (xml_view.rb:24-29/92-94).

    ``want`` projects the OUTPUT to a subset of artifact columns
    (SURVEY.md S8, the reference's explicit-only rendering): the
    kernel's cost is turn-local either way, but serializing the full
    nested row costs ~4x a references-only row, so consumers that read
    one artifact should ask for just it.

    ``on_error``: ``"fail"`` (default) re-raises any kernel exception
    wrapped with the offending (conv_id, turn_idx) so a failure in a
    10^12-turn job is attributable without bisection; ``"skip"`` emits
    a sentinel row instead (``page_count = -1``, empty artifacts,
    metrics carrying chars_in only) so one poison turn cannot kill the
    job — filter ``page_count >= 0`` downstream, count the rest.

    ``carry``: extra INPUT columns passed through to the output
    verbatim (the stage is 1:1 row-for-row, so they copy straight from
    the input Arrow batch with zero per-row Python cost) — e.g.
    ``carry=("ts",)`` keeps the event-time column for a downstream
    watermarked streaming aggregation.
    """
    src, schema, run = extraction_stage(
        df, settings, rendered, want, on_error, carry
    )
    if repartition:
        src = src.repartition(
            repartition, F.xxhash64(F.col("conv_id"), F.col("turn_idx"))
        )
    return src.mapInArrow(run, schema=schema)


def extraction_stage(
    df: DataFrame,
    settings: Settings = DEFAULT,
    rendered: bool = True,
    want: tuple[str, ...] | None = None,
    on_error: str = "fail",
    carry: tuple[str, ...] = (),
):
    """The Python stage of ``extract``, arguments as there: ->
    ``(src, schema, run)``, the projected input, the output schema and
    the function that maps ``src``'s Arrow batches to output batches.
    ``extract`` hands ``run`` to ``mapInArrow``; the extraction job's
    bucket writer (``sinks.py``) calls it inside its own stage and
    writes the batches instead of returning them, so both run this one
    kernel loop."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    selected = DEFAULT_ARTIFACTS if want is None else tuple(want)
    unknown = [w for w in selected if w not in ARTIFACT_FIELDS]
    if unknown:
        raise ValueError(
            f"unknown want artifact(s) {unknown}; valid names are "
            f"{sorted(ARTIFACT_FIELDS)} — a misspelling (e.g. "
            f"'titles' for 'title') would otherwise silently return "
            f"rows with the artifact missing"
        )
    dropped = set(ARTIFACT_FIELDS) - set(selected)
    computed = StructType([f for f in RESULT_SCHEMA if f.name not in dropped])
    # reject carries colliding with OUTPUT fields, and also with the
    # base INPUT selection below — carry=("text",) would otherwise put
    # a duplicate 'text' column into src.select and the stage would
    # only work by coincidence of Arrow's duplicate-field-name lookup
    base_inputs = ("conv_id", "turn_idx", "role", "text")
    clash = [
        c
        for c in carry
        if c in computed.fieldNames() or c in base_inputs
    ]
    if clash:
        raise ValueError(
            f"carry columns collide with output or base input "
            f"(conv_id/turn_idx/role/text): {clash}"
        )
    schema = StructType(
        list(computed.fields) + [df.schema[c] for c in carry]
    )

    src = df.select("conv_id", "turn_idx", "role", "text", *carry)

    precision = settings.precision

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    computed_arrow = to_arrow_schema(computed)

    def run(batches):
        """Arrow-native stage: consume pyarrow RecordBatches, run the
        per-turn kernel, emit typed RecordBatches directly.  Bypassing
        the pandas object path cuts serialization from ~10x kernel cost
        to a small constant (pa.array over python structs is C-side)."""
        settle_worker()

        def rnd(v):
            return None if v is None else round(v, precision)

        views = [
            (name, _VIEWS.get(name, partial(artifact_rows, name=name)))
            for name in selected
        ]
        renderers = [
            (f.name, render)
            for f in (computed.fields if rendered else ())
            if (render := _renderer(f.dataType, rnd, f.name)) is not None
        ]
        kernel_want = tuple({"title": "titles"}.get(k, k) for k in selected)
        for batch in batches:
            # column-wise accumulation: one Python list per output
            # field, rendered and converted once per batch — no
            # per-turn row dict to transpose afterwards
            cols: dict[str, list] = {f.name: [] for f in computed_arrow}
            for conv_id, turn_idx, role, res in kernel_rows(
                batch, settings, kernel_want, on_error
            ):
                cols["conv_id"].append(conv_id)
                cols["turn_idx"].append(turn_idx)
                cols["role"].append(role)
                cols["page_count"].append(res["page_count"])
                cols["metrics"].append(res["metrics"])
                for name, view in views:
                    cols[name].append(view(res))
            for name, render in renderers:
                cols[name] = [render(v) for v in cols[name]]
            arrays = [
                pa.array(cols[field.name], type=field.type)
                for field in computed_arrow
            ]
            for c in carry:
                # 1:1 row mapping: carried columns copy verbatim from
                # the input batch (no per-row Python), cast only if the
                # input conversion chose a different arrow flavor
                col = batch.column(batch.schema.get_field_index(c))
                want_t = arrow_schema.field(c).type
                if col.type != want_t:
                    col = col.cast(want_t)
                arrays.append(col)
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return src, schema, run


def extract_exploded(df: DataFrame, artifact: str, **kw) -> DataFrame:
    """Convenience: one row per extracted artifact (region / section /
    reference / zone / column), keyed by (conv_id, turn_idx).  Pure
    Catalyst explode over the nested plan output — and the plan only
    computes/serializes the requested artifact (S8 projection)."""
    if artifact == "titles":
        res = extract(df, want=("title",), **kw)
        return res.select(
            "conv_id", "turn_idx", "title.*"
        ).where(F.col("content").isNotNull())
    res = extract(df, want=(artifact,), **kw)
    return res.select(
        "conv_id",
        "turn_idx",
        F.explode(artifact).alias("a"),
    ).select("conv_id", "turn_idx", "a.*")
