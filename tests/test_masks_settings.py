"""Driver rows for the settings/sink surface (SURVEY.md S3/S4/S6/S8/P2):
the masks plan vs the kernel renderer, font-metric rollups vs the AFM
table, and want-projection parity."""

import hashlib

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

TEXTS = [
    (
        "A Title Line\n\n"
        + " ".join(["body words that wrap across several lines"] * 20)
    ),
    "short",
    "",
]


def make_transcripts(spark):
    rows = [(f"c{i}", i, "user", t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def test_extract_masks_matches_kernel_renderer(spark):
    """S6: the distributed mask plan's per-page SVG equals the
    single-node kernel + maskview renderer, byte for byte (md5)."""
    from pdfextract_spark.core import extract_turn
    from pdfextract_spark.core.maskview import render_turn_masks
    from pdfextract_spark.plans.masks import extract_masks

    out = extract_masks(make_transcripts(spark)).collect()
    got = {(r["turn_idx"], r["page"]): r for r in out}
    n_pages = 0
    for i, text in enumerate(TEXTS):
        res = extract_turn(text, want=("regions", "zones", "columns"))
        masks = render_turn_masks(res)
        for page, svg in masks.items():
            n_pages += 1
            row = got[(i, page)]
            assert row["svg"] == svg
            assert row["svg_md5"] == hashlib.md5(svg.encode()).hexdigest()
            assert row["svg_len"] == len(svg)
            assert row["n_rects"] == svg.count("<rect") - 1
    assert n_pages >= 2  # the empty turn renders no pages
    assert len(got) == n_pages


def test_extract_masks_fingerprint_only_and_types(spark):
    """with_svg=False drops the body column; unknown types raise."""
    from pdfextract_spark.plans.masks import extract_masks

    df = extract_masks(
        make_transcripts(spark), types=("regions",), with_svg=False
    )
    assert "svg" not in df.columns
    assert df.count() >= 2
    with pytest.raises(ValueError, match="unknown mask types"):
        extract_masks(make_transcripts(spark), types=("bogus",))


def test_cli_mark_writes_the_mask_plan(spark, tmp_path, monkeypatch):
    """`python -m pdfextract_spark mark` writes one (conv_id, turn_idx,
    page, svg) row per page, equal to the kernel's mask renderer, and
    refuses unknown --types instead of writing empty masks."""
    from pdfextract_spark.__main__ import main
    from pdfextract_spark.core import extract_turn
    from pdfextract_spark.core.maskview import render_turn_masks
    from pdfextract_spark.settings import DEFAULT

    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    make_transcripts(spark).write.parquet(src)
    argv = ["mark", "--input", src, "--output", out, "--master", "local[1]"]
    types = ("regions", "columns")
    # mark() ends by stopping the session it got: keep the shared one
    monkeypatch.setattr(spark, "stop", lambda: None)
    try:
        main(argv + ["--types", ",".join(types)])
        with pytest.raises(ValueError, match="unknown mask types"):
            main(argv + ["--types", "regions,bogus"])
    finally:
        spark.sparkContext.setLogLevel("ERROR")

    written = spark.read.parquet(out)
    assert written.columns == ["conv_id", "turn_idx", "page", "svg"]
    got = {(r["turn_idx"], r["page"]): r["svg"] for r in written.collect()}
    ts = DEFAULT.typesetter
    expected = {
        (i, page): svg
        for i, text in enumerate(TEXTS)
        for page, svg in render_turn_masks(
            extract_turn(text, want=types),
            page_width=ts.page_width,
            page_height=ts.page_height,
            types=types,
        ).items()
    }
    assert expected and got == expected


def test_extract_masks_sections_only(spark):
    """Sections carry no page of their own: a sections-only mask draws
    each section's components on their pages, one rect per component."""
    from collections import Counter

    from pdfextract_spark.core import extract_turn
    from pdfextract_spark.plans.masks import extract_masks

    out = extract_masks(make_transcripts(spark), types=("sections",)).collect()
    got = {(r["turn_idx"], r["page"]): r["n_rects"] for r in out}
    expected = Counter(
        (i, c["page"])
        for i, text in enumerate(TEXTS)
        for s in extract_turn(text, want=("sections",))["sections"]
        for c in s["components"]
    )
    assert expected and got == dict(expected)


def test_cli_extract_as_xml_writes_render_turn_xml(spark, tmp_path, monkeypatch):
    """`python -m pdfextract_spark extract --as xml` writes one
    (conv_id, turn_idx, xml) row per turn, equal to the kernel's XML
    renderer, for the default flags and for --no-lines --headers."""
    from pdfextract_spark.__main__ import main
    from pdfextract_spark.core import extract_turn
    from pdfextract_spark.core.xmlview import render_turn_xml

    src = str(tmp_path / "in")
    make_transcripts(spark).write.parquet(src)
    monkeypatch.setattr(spark, "stop", lambda: None)
    cases = [
        ([], ("regions", "zones", "columns", "sections", "titles", "references"), {}),
        (["--no-lines", "--headers"], ("zones",),
         {"lines": False, "zone_filter": ["headers"]}),
    ]
    for n, (flags, want, kw) in enumerate(cases):
        out = str(tmp_path / f"out{n}")
        try:
            main(["extract", "--as", "xml", "--input", src, "--output", out,
                  "--master", "local[1]", *flags])
        finally:
            spark.sparkContext.setLogLevel("ERROR")
        written = spark.read.parquet(out)
        assert written.columns == ["conv_id", "turn_idx", "xml"]
        got = {(r["conv_id"], r["turn_idx"]): r["xml"] for r in written.collect()}
        expected = {
            (f"c{i}", i): render_turn_xml(extract_turn(text, want=want), **kw)
            for i, text in enumerate(TEXTS)
        }
        assert got == expected, flags


def test_font_metrics_match_afm_table(spark):
    """S3: the per-font min/max glyph advance from the Spark rollup
    equals milli-em units x size / 1000 (2 dp) from the engine's
    AFM-style table for the glyphs actually typeset, and heights pin
    the declared face sizes."""
    from pdfextract_spark.core.fontmetrics import width_units
    from pdfextract_spark.settings import DEFAULT

    # reuse the driver query's shape over a local transcript table
    from pdfextract_spark.plans.extract import extract

    res = extract(make_transcripts(spark), want=("characters",))
    ch = res.select(F.explode("characters").alias("c"))
    rows = {
        r["font"]: r
        for r in ch.groupBy(F.col("c.font").alias("font"))
        .agg(
            F.min("c.width").alias("min_width"),
            F.max("c.width").alias("max_width"),
            F.min("c.height").alias("min_height"),
            F.max("c.height").alias("max_height"),
        )
        .collect()
    }
    ts = DEFAULT.typesetter
    assert set(rows) == {"Body", "Title"}
    # Title face is the monospace one (fontmetrics.py: 500 units flat)
    assert rows["Title"]["min_width"] == round(500 * ts.title_size / 1000, 2)
    assert rows["Title"]["max_width"] == rows["Title"]["min_width"]
    assert rows["Title"]["min_height"] == ts.title_size
    # Body face is proportional: the typeset glyph advances must span
    # exactly the AFM-table extremes of the glyphs actually set
    body_text = TEXTS[0].split("\n\n", 1)[1] + "1 / 3"  # + footer text
    units = {width_units(g) for g in set(body_text) - {" ", "\n"}}
    got_umin = {
        round(min(units) * s / 1000.0, 2)
        for s in (ts.body_size, ts.footer_size)
    }
    assert rows["Body"]["min_width"] in got_umin
    # Body face appears at both body and footer sizes
    assert rows["Body"]["max_height"] == ts.body_size
    assert rows["Body"]["min_height"] == ts.footer_size


def test_want_projection_parity_regions(spark):
    """S8: want=('regions',) fast path == full-pipeline regions."""
    from pdfextract_spark.plans.extract import extract

    df = make_transcripts(spark)
    full = (
        extract(df)
        .select("conv_id", "turn_idx", F.explode("regions").alias("a"))
        .select("conv_id", "turn_idx", "a.*")
    )
    fast = (
        extract(df, want=("regions",))
        .select("conv_id", "turn_idx", F.explode("regions").alias("a"))
        .select("conv_id", "turn_idx", "a.*")
    )
    key = ["conv_id", "turn_idx", "page", "y", "x"]
    assert sorted(full.collect(), key=lambda r: tuple(r[k] for k in key)) == sorted(
        fast.collect(), key=lambda r: tuple(r[k] for k in key)
    )


def test_p2_drop_spatial_projection(spark):
    """P2: the driver query's projection carries no spatial columns
    and agrees with the kernel's drop_spatial key set."""
    from pdfextract_spark.core.spatial import SPATIAL_ATTRIBS
    from pdfextract_spark.plans.driver_queries import QUERIES

    df = QUERIES["p2_drop_spatial"](spark, "/root/testdata/sf0.001")
    assert not set(df.columns) & set(SPATIAL_ATTRIBS)
    assert set(df.columns) == {"conv_id", "turn_idx", "line_height", "font"}
