"""Distributed layout-mask sink (SURVEY.md S6, ``view/pdf_view.rb:7-35``).

The reference's ``mark`` command draws translucent artifact bounding
boxes over each page.  This plan runs the extraction plan's per-turn
kernel loop (``plans.extract.kernel_rows``) and renders the per-page
SVG masks (``core/maskview.py``) inside the SAME Arrow batch — one narrow
``mapInArrow`` stage, zero shuffles, no driver collection — emitting
one row per (turn, page) with the mask plus a compact fingerprint
(rect count, byte length, md5) so equality checks don't need to diff
whole SVG bodies.

Scale note: a mask row is O(page artifacts) bytes and pages per turn
are bounded by the mega-turn guard (``settings.max_turn_chars``), so
output size is linear in input turns; the stage inherits the extract
plan's perfectly parallel shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.maskview import COLORS, render_turn_masks
from ..settings import DEFAULT, Settings
from ..worker import settle_worker
from .extract import kernel_rows

MASK_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("page", IntegerType()),
        StructField("n_rects", IntegerType()),
        StructField("svg_len", IntegerType()),
        StructField("svg_md5", StringType()),
        StructField("svg", StringType()),
    ]
)

def extract_masks(
    df: DataFrame,
    settings: Settings = DEFAULT,
    types: tuple[str, ...] = ("regions", "zones", "columns"),
    with_svg: bool = True,
    repartition: int | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, ...) -> one row per
    (turn, page) with that page's SVG mask of ``types`` bounding boxes.

    ``with_svg=False`` drops the SVG body column (fingerprint only) for
    pipelines that audit masks at scale without storing them.
    """
    unknown = [t for t in types if t not in COLORS]
    if unknown:
        raise ValueError(f"unknown mask types: {unknown}")
    kernel_want = tuple(types)

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType(
        [f for f in MASK_SCHEMA.fields if with_svg or f.name != "svg"]
    )
    arrow_schema = to_arrow_schema(schema)
    page_w = settings.typesetter.page_width
    page_h = settings.typesetter.page_height

    src = df.select("conv_id", "turn_idx", "role", "text")
    if repartition:
        src = src.repartition(
            repartition, F.xxhash64(F.col("conv_id"), F.col("turn_idx"))
        )

    def run(batches):
        settle_worker()
        for batch in batches:
            cols: dict[str, list] = {f.name: [] for f in arrow_schema}
            for conv_id, turn_idx, _, res in kernel_rows(
                batch, settings, kernel_want, "fail"
            ):
                masks = render_turn_masks(
                    res, page_width=page_w, page_height=page_h, types=types
                )
                for page, svg in masks.items():
                    cols["conv_id"].append(conv_id)
                    cols["turn_idx"].append(turn_idx)
                    cols["page"].append(page)
                    cols["n_rects"].append(svg.count("<rect") - 1)  # minus bg
                    cols["svg_len"].append(len(svg))
                    cols["svg_md5"].append(
                        hashlib.md5(svg.encode("utf-8")).hexdigest()
                    )
                    if with_svg:
                        cols["svg"].append(svg)
            arrays = [
                pa.array(cols[f.name], type=f.type) for f in arrow_schema
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return src.mapInArrow(run, schema=schema)
