"""Extraction-pipeline queries: UDF-bound composites over synthesized
transcripts, graded against the frozen kernel goldens
(tools/freeze_pipeline_goldens.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..driver_queries import _REPO_ROOT, _golden, q


def _transcripts(spark, sf_dir):
    from ...sources.transcripts import synth_transcripts

    return synth_transcripts(spark, sf_dir)


@q("pipeline_references", _golden("pipeline_references"))
def pipeline_references(spark, sf_dir):
    """Full extraction -> one row per extracted reference string
    (A5/A7/F10-F12 composite; driver does a rows-only check since the
    sequential merges are not SQL-expressible)."""
    from ..extract import extract_exploded

    return extract_exploded(_transcripts(spark, sf_dir), "references")


@q("pipeline_titles", _golden("pipeline_titles"))
def pipeline_titles(spark, sf_dir):
    """Full extraction -> per-turn title rows (W4/P3 composite)."""
    from ..extract import extract_exploded

    return extract_exploded(_transcripts(spark, sf_dir), "titles")


@q("pipeline_regions", _golden("pipeline_regions"))
def pipeline_regions(spark, sf_dir):
    """Full extraction -> per-region rows with line arrays (A1-A5/W5)."""
    from ..extract import extract_exploded

    return extract_exploded(_transcripts(spark, sf_dir), "regions").drop("lines")


@q("pipeline_metrics", _golden("pipeline_metrics"))
def pipeline_metrics(spark, sf_dir):
    """Per-partition lineage metrics rollup (north_rule: extraction
    metrics — chars in, regions found, references matched)."""
    from ..extract import extract

    res = extract(_transcripts(spark, sf_dir))
    return res.groupBy("role").agg(
        F.count("*").alias("turns"),
        F.sum("metrics.chars_in").alias("chars_in"),
        F.sum("metrics.regions_found").alias("regions_found"),
        F.sum("metrics.refs_matched").alias("refs_matched"),
    )


@q("pipeline_sections", _golden("pipeline_sections"))
def pipeline_sections(spark, sf_dir):
    """Full extraction -> per-section rows with stats + scores (A7-A9
    composite; rows-only)."""
    from ..extract import extract_exploded

    return extract_exploded(_transcripts(spark, sf_dir), "sections").drop(
        "lines", "components"
    )


@q("pipeline_zones", _golden("pipeline_zones"))
def pipeline_zones(spark, sf_dir):
    """Full extraction -> per-zone rows (T3/T4 composite; rows-only)."""
    from ..extract import extract_exploded

    return extract_exploded(_transcripts(spark, sf_dir), "zones")


@q("pipeline_conv_rollup", _golden("pipeline_conv_rollup"))
def pipeline_conv_rollup(spark, sf_dir):
    """Conversation-level metric rollup over the extraction output with
    salted two-phase aggregation (sinks.conv_metrics_rollup) — the
    skew-handling path the north_rule requires: the synthetic conv
    assignment deliberately gives conv-0 ~8x the median turns, and a
    10^12-turn table can hold 10^8-turn conversations, so partials are
    combined per (conv_id, salt) before the final conv_id agg.
    Rows-only check (UDF-bound upstream)."""
    from ...sinks import conv_metrics_rollup
    from ..extract import extract

    result = extract(_transcripts(spark, sf_dir), want=("references",))
    return conv_metrics_rollup(result).select(
        "conv_id", "turns", "chars_in", "refs_matched"
    )


@q("pipeline_resolved_references", _golden("pipeline_resolved_references"))
def pipeline_resolved_references(spark, sf_dir):
    """Full extraction -> references -> catalog resolution (the
    reference's `extract-bib` semantic path, minus network).  Refs
    from synthetic transcripts rarely match the synthetic catalog, so
    most doi values are NULL — the shape (columns + per-ref rows) is
    what the rows-only check pins."""
    from ...operators.resolve import resolve_references, synth_citation_catalog
    from ..extract import extract_exploded

    refs = extract_exploded(_transcripts(spark, sf_dir), "references")
    out = resolve_references(refs, synth_citation_catalog(spark, 200))
    return out.select("conv_id", "turn_idx", "content", "order", "doi", "score")


@q("pipeline_font_metrics", _golden("pipeline_font_metrics"))
def pipeline_font_metrics(spark, sf_dir):
    """S3 (font_metrics.rb:73-261): per-font glyph-metric rollup over
    the typeset character runs.  Glyph advances come from the engine's
    AFM-style per-glyph width table (core/fontmetrics.py: integer
    milli-em units x size / 1000), so the min/max width spread per
    font reflects the proportional metrics and heights pin the face
    sizes.  total_advance is summed in FIXED POINT (centi-points as
    bigint, divided once at the end): the rendered widths are exact
    2-dp values, so the integer sum is order-independent and the
    single final division is deterministic — a double F.sum over
    millions of glyphs would accumulate partition-order-dependent
    error and could flip the 2-dp golden.  Exploding the characters
    artifact also drives S2 end-to-end at driver grade."""
    from ..extract import extract

    res = extract(_transcripts(spark, sf_dir), want=("characters",))
    ch = res.select(F.explode("characters").alias("c"))
    return ch.groupBy(F.col("c.font").alias("font")).agg(
        F.count("*").alias("n_glyphs"),
        F.countDistinct("c.content").alias("n_distinct_glyphs"),
        F.min("c.width").alias("min_width"),
        F.max("c.width").alias("max_width"),
        F.min("c.height").alias("min_height"),
        F.max("c.height").alias("max_height"),
        (
            F.sum(F.round(F.col("c.width") * 100).cast("bigint")) / 100.0
        ).alias("total_advance"),
    )


@q("pipeline_page_dims", _golden("pipeline_page_dims"))
def pipeline_page_dims(spark, sf_dir):
    """S4 (pdf.rb page-dims settings): per-turn page accounting under
    the declared page geometry.  page_count is the typesetter's
    pagination of the turn under (page_height, margin, leading) — the
    dims are emitted alongside so the golden pins the geometry the
    count was derived under."""
    from ..extract import extract

    from ...settings import DEFAULT

    ts = DEFAULT.typesetter
    res = extract(_transcripts(spark, sf_dir), want=())
    return res.select(
        "conv_id",
        "turn_idx",
        "page_count",
        F.col("metrics.chars_in").alias("chars_in"),
        F.lit(ts.page_width).alias("page_width"),
        F.lit(ts.page_height).alias("page_height"),
        F.lit(ts.usable_width).alias("usable_width"),
    )


@q("pipeline_masks", _golden("pipeline_masks"))
def pipeline_masks(spark, sf_dir):
    """S6 (pdf_view.rb:7-35): distributed mask sink — one SVG per
    (turn, page) with region/zone/column bounding boxes, rendered in
    the same Arrow batch as the kernel (plans/masks.py).  The golden
    row fingerprint (rect count, byte length, md5) pins the full SVG
    byte stream; the body column is dropped here to keep the golden
    parquet compact."""
    from ..masks import extract_masks

    return extract_masks(_transcripts(spark, sf_dir), with_svg=False)


@q("s8_projection_parity", _golden("pipeline_regions"))
def s8_projection_parity(spark, sf_dir):
    """S8 (explicit-only rendering): the want-projected kernel path
    must be artifact-identical to the full pipeline.  This query runs
    the FULL extract (want=None) and projects regions afterwards; its
    oracle is the pipeline_regions golden, which was frozen from the
    want=("regions",) fast path — equality proves the projection only
    prunes output, never changes semantics."""
    from ..extract import extract

    res = extract(_transcripts(spark, sf_dir))
    return (
        res.select("conv_id", "turn_idx", F.explode("regions").alias("a"))
        .select("conv_id", "turn_idx", "a.*")
        .drop("lines")
    )


@q(
    "p2_drop_spatial",
    f"""
    SELECT conv_id, turn_idx, line_height, font
    FROM read_parquet('{_REPO_ROOT}/goldens/pipeline/sf0.01/pipeline_regions.parquet')
    """,
)
def p2_drop_spatial(spark, sf_dir):
    """P2 (spatial.rb:21-23 drop_spatial): drop the spatial attribute
    set (x, y, width, height, page, page dims) from region rows.  The
    Spark-first expression of drop_spatial is column pruning — the
    projection reaches the plan so the spatial doubles are never
    serialized — and the oracle is a column-SELECT over the regions
    golden, a genuine cross-path check (kernel dict-drop semantics are
    pinned by core/sections.py:125 + unit tests)."""
    from ..extract import extract_exploded

    return (
        extract_exploded(_transcripts(spark, sf_dir), "regions")
        .select("conv_id", "turn_idx", "line_height", "font")
    )
