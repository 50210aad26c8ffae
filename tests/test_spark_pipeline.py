"""End-to-end Spark pipeline tests: extraction plan vs the single-node
kernel (golden parity), resumable sink, streaming."""

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

TEXTS = [
    (
        "A Study of Synthetic Layouts\n\n"
        + " ".join(["plain body words that wrap across lines nicely"] * 12)
        + "\n\nReferences\n\n"
        + " ".join(
            f"[{i}] Author{i}, X. ({1990 + i}). Paper about topic {i}. Venue."
            for i in range(1, 6)
        )
    ),
    "just a single short paragraph of text",
    "",
    "Eﬀects of “Ligatures”\n\n" + " ".join(["body content here"] * 30),
]


def make_transcripts(spark):
    rows = [(f"c{i % 2}", i, "user", t) for i, t in enumerate(TEXTS)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )


def test_extract_matches_kernel_goldens(spark):
    """The Spark plan must equal the single-node kernel + canonical
    rendering, per turn (the per-turn text equality gate)."""
    from pdfextract_spark.core import extract_turn, render_turn
    from pdfextract_spark.plans import extract

    out = {
        r["turn_idx"]: r
        for r in extract(make_transcripts(spark)).collect()
    }
    for i, text in enumerate(TEXTS):
        golden = render_turn(extract_turn(text))
        row = out[i]
        # title text equality
        gt = golden.get("title")
        if gt is None:
            assert row["title"] is None
        else:
            assert row["title"]["content"] == gt["content"]
            assert row["title"]["line_height"] == gt["line_height"]
        # reference strings in order
        grefs = [(r["content"], r.get("order")) for r in golden["references"]]
        srefs = [(r["content"], r["order"]) for r in (row["references"] or [])]
        assert srefs == grefs
        # region/line text equality under stable ordering
        glines = [
            l["content"] for reg in golden["regions"] for l in reg["lines"]
        ]
        slines = [
            l["content"] for reg in (row["regions"] or []) for l in reg["lines"]
        ]
        assert slines == glines
        # numeric rounding applied (2 dp)
        for reg in row["regions"] or []:
            assert reg["x"] == round(reg["x"], 2)


def _project(value, dtype):
    """``value`` cut down to the fields of Spark type ``dtype``."""
    from pyspark.sql.types import ArrayType, StructType

    if value is None:
        return None
    if isinstance(dtype, ArrayType):
        return [_project(v, dtype.elementType) for v in value]
    if isinstance(dtype, StructType):
        return {f.name: _project(value.get(f.name), f.dataType) for f in dtype}
    return value


def test_extract_every_artifact_matches_render_turn(spark):
    """Every field of every artifact equals the single-node kernel:
    rendered through render_turn at precision 2 and 4, raw with
    rendered=False.  The kernel's page-keyed chunks/margins are
    flattened in page order, zones carry ``group`` as ``zone`` and a
    section's content is the (transliterated) text of the raw
    section."""
    import dataclasses

    from pdfextract_spark.core import extract_turn, render_turn
    from pdfextract_spark.core.language import transliterate
    from pdfextract_spark.core.spatial import get_text_content
    from pdfextract_spark.plans.extract import (
        ARTIFACT_FIELDS,
        RESULT_SCHEMA,
        extract,
    )
    from pdfextract_spark.settings import DEFAULT

    kernel_want = tuple({"title": "titles"}.get(a, a) for a in ARTIFACT_FIELDS)
    df = make_transcripts(spark)
    for precision, rendered in ((2, True), (4, True), (2, False)):
        settings = dataclasses.replace(DEFAULT, precision=precision)
        out = extract(df, settings, rendered=rendered, want=ARTIFACT_FIELDS)
        rows = {r["turn_idx"]: r.asDict(recursive=True) for r in out.collect()}
        assert len(rows) == len(TEXTS)
        for i, text in enumerate(TEXTS):
            raw = extract_turn(text, settings, want=kernel_want)
            res = render_turn(raw, settings) if rendered else raw
            tx = transliterate if rendered else str
            chunks, margins = res["chunks"], res["margins"]
            expected = {
                "page_count": res["page_count"],
                "metrics": res["metrics"],
                "title": res["title"],
                "regions": res["regions"],
                "zones": [dict(z, zone=z["group"]) for z in res["zones"]],
                "columns": res["columns"],
                "sections": [
                    dict(s, content=tx(get_text_content(r)))
                    for s, r in zip(res["sections"], raw["sections"])
                ],
                "references": res["references"],
                "characters": res["characters"],
                "chunks": [c for pg in sorted(chunks) for c in chunks[pg]],
                "margins": [
                    dict(m, side=side)
                    for pg in sorted(margins)
                    for side, m in margins[pg].items()
                ],
            }
            for name, value in expected.items():
                want = _project(value, RESULT_SCHEMA[name].dataType)
                assert rows[i][name] == want, (precision, rendered, i, name)


def test_extract_ligature_transliteration(spark):
    from pdfextract_spark.plans import extract

    row = [
        r
        for r in extract(make_transcripts(spark)).collect()
        if r["turn_idx"] == 3
    ][0]
    assert row["title"]["content"] == 'Effects of "Ligatures"'


def test_resumable_sink_and_lineage(spark, tmp_path):
    from pdfextract_spark.sinks import (
        completed_buckets,
        conv_metrics_rollup,
        run_extraction_job,
    )

    out_dir = str(tmp_path / "out")
    t = make_transcripts(spark)
    prev_ovr = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", None
    )
    lineage = run_extraction_job(
        spark, t, out_dir, n_buckets=4, buckets_per_batch=2, resume=True
    )
    # EVERY scheduled bucket commits a lineage row — empty ones
    # zero-filled — or resume could never converge to a no-op
    assert lineage.count() == 4
    assert completed_buckets(spark, out_dir) == {0, 1, 2, 3}
    # the overwrite mode is set on the writer; the session's is untouched
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        == prev_ovr
    )

    # resume is a no-op when all buckets are done: lineage row count stable
    n_before = lineage.count()
    run_extraction_job(
        spark, t, out_dir, n_buckets=4, buckets_per_batch=2, resume=True
    )
    lineage2 = spark.read.parquet(f"{out_dir}/_lineage")
    assert lineage2.count() == n_before

    # resuming under a DIFFERENT bucketing is refused loudly — the old
    # bucket ids would silently mis-assign rows under the new hash
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        completed_buckets(spark, out_dir, n_buckets=8)

    result = spark.read.parquet(out_dir)
    assert result.count() == 4
    roll = conv_metrics_rollup(result).collect()
    assert {r["conv_id"] for r in roll} == {"c0", "c1"}


def test_streaming_extraction(spark, tmp_path):
    from pdfextract_spark.streaming import start_file_stream

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "sout")
    ck = str(tmp_path / "ck")
    t = make_transcripts(spark).withColumn("tool", F.lit(None).cast("string")).withColumn(
        "ts", F.current_timestamp()
    )
    t.write.parquet(in_dir)
    q = start_file_stream(spark, in_dir, out_dir, ck, trigger_once=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 4
    assert "references" in got.columns


def test_extraction_invariant_under_partitioning(spark):
    """Results are a pure function of each row: identical under any
    physical distribution (the determinism the north rule's 'stable
    turn ordering' requires)."""
    from pdfextract_spark.plans import extract

    t = make_transcripts(spark)

    def canon(df):
        rows = extract(df, want=("references", "title")).collect()
        return sorted(
            (r["conv_id"], r["turn_idx"], str(r["title"]), str(r["references"]))
            for r in rows
        )

    assert canon(t.repartition(1)) == canon(t.repartition(7))


def test_synth_transcripts_deterministic(spark):
    from pdfextract_spark.sources import synth_transcripts

    a = sorted(map(str, synth_transcripts(spark, "/root/testdata/sf0.001").collect()))
    b = sorted(map(str, synth_transcripts(spark, "/root/testdata/sf0.001").collect()))
    assert a == b


def test_salted_rollup_bounds_skewed_groups(spark):
    """The PRODUCTION salted two-phase aggregation must cap per-task
    group size even when one conversation holds half the table
    (north_rule skew requirement).  Deterministic property — no timing:
    the largest partial group from sinks.salted_conv_partials must
    shrink by ~the salt fan-out relative to the naive
    groupBy(conv_id) hot group, and conv_metrics_rollup must combine
    the partials back to exact totals."""
    from pyspark.sql import functions as F

    from pdfextract_spark.sinks import conv_metrics_rollup, salted_conv_partials

    n = 4000
    # conv "hot" absorbs 50% of all turns; the rest spread over 40 convs
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % 40).cast("string")))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.struct(
            (F.col("id") % 100).cast("long").alias("chars_in"),
            F.lit(0).alias("regions_found"),
            F.lit(0).alias("sections_found"),
            (F.col("id") % 3).cast("int").alias("refs_matched"),
        ).alias("metrics"),
    )
    salt_buckets = 16
    naive_max = df.groupBy("conv_id").count().agg(F.max("count")).head()[0]
    assert naive_max == n // 2
    partials = salted_conv_partials(df, salt_buckets)
    salted_max = partials.agg(F.max("turns")).head()[0]
    # xxhash64 spreads the hot conv's turn_idx values near-uniformly
    # over the salt buckets: worst partial group ~ n/2/16, allow 2x
    assert salted_max <= (naive_max // salt_buckets) * 2
    # and the combine phase reproduces exact naive aggregates
    got = {
        r["conv_id"]: (r["turns"], r["chars_in"], r["refs_matched"])
        for r in conv_metrics_rollup(df, salt_buckets).collect()
    }
    want = {
        r["conv_id"]: (r["count"], r["chars"], r["refs"])
        for r in df.groupBy("conv_id")
        .agg(
            F.count("*").alias("count"),
            F.sum("metrics.chars_in").alias("chars"),
            F.sum("metrics.refs_matched").alias("refs"),
        )
        .collect()
    }
    assert got == want


def test_extract_on_error_skip_and_fail_context(spark):
    """Production resilience: with on_error='skip', a poison turn emits
    a sentinel row (page_count=-1, empty artifacts) instead of killing
    the job; with the default 'fail', the raised error names the
    offending (conv_id, turn_idx)."""
    import pytest as _pytest

    from pdfextract_spark.plans import extract
    from pdfextract_spark.plans.masks import extract_masks
    from pdfextract_spark.settings import Settings, Typesetter

    df = make_transcripts(spark)
    poison = Settings(typesetter=Typesetter(title_size=0.0))

    rows = extract(df, settings=poison, on_error="skip").collect()
    assert len(rows) == df.count()
    # title_size=0 only detonates on multi-paragraph turns, so the
    # batch is a realistic mix: poisoned turns -> sentinel rows,
    # healthy turns -> normal rows, and nothing is dropped
    bad = [r for r in rows if r["page_count"] == -1]
    ok = [r for r in rows if r["page_count"] >= 0]
    assert bad and ok
    assert all(r["title"] is None and r["references"] == [] for r in bad)
    # chars_in still recorded for lineage accounting
    assert all(r["metrics"]["chars_in"] > 0 for r in bad)

    # the mask plan runs the same kernel loop, always with 'fail'
    for plan in (extract, extract_masks):
        with _pytest.raises(Exception) as ei:
            plan(df, settings=poison).collect()
        assert "conv_id=" in str(ei.value) and "turn_idx=" in str(ei.value)

    with _pytest.raises(ValueError):
        extract(df, on_error="bogus")


def test_reference_cli_artifact_parity(spark):
    """Reference CLI parity (bin/pdf-extract:12-15): every selectable
    object type — characters, chunks, regions, columns, semantic
    (sections/titles/references), margins, zone sub-types — is
    extractable, and the XML render supports --no-lines / --outline."""
    from pdfextract_spark.core import extract_turn
    from pdfextract_spark.core.xmlview import render_turn_xml
    from pdfextract_spark.plans import extract

    df = make_transcripts(spark)
    full = extract(
        df,
        want=(
            "title", "regions", "zones", "columns", "sections",
            "references", "characters", "chunks", "margins",
        ),
    ).collect()
    r = {x["turn_idx"]: x for x in full}[0]
    assert len(r["characters"]) > len(r["chunks"]) > 0
    assert {m["side"] for m in r["margins"]} == {
        "top", "bottom", "left", "right"
    }
    # chunks are the typeset lines (fast path): their text joined is
    # the region text source, so content must be non-empty
    assert all(c["content"].strip() for c in r["chunks"])

    res = extract_turn(
        TEXTS[0],
        want=("regions", "margins", "chunks", "characters", "zones"),
    )
    xml_full = render_turn_xml(res)
    xml_nolines = render_turn_xml(res, lines=False)
    xml_outline = render_turn_xml(res, outline=True)
    assert "<line" in xml_full and "<line" not in xml_nolines
    assert "<margin" in xml_full and "<chunk" in xml_full
    # outline keeps geometry, drops text nodes
    assert ">References<" not in xml_outline
    only_headers = render_turn_xml(res, zone_filter=["headers"])
    assert "footers" not in only_headers


def test_read_transcripts_all_formats_equal(spark, tmp_path):
    """Transcripts arriving as parquet, ORC, JSON-lines or CSV produce
    identical extraction results (schema-enforced readers, no
    inference pass)."""
    import pytest as _pytest

    from pdfextract_spark.plans import extract
    from pdfextract_spark.sources.tables import read_transcripts

    base = make_transcripts(spark).withColumn(
        "tool", F.lit(None).cast("string")
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    def canon(df):
        return sorted(
            (r["conv_id"], r["turn_idx"], str(r["title"]), str(r["references"]))
            for r in extract(df, want=("title", "references")).collect()
        )

    want = canon(base)
    for fmt in ("parquet", "orc", "json", "csv"):
        path = str(tmp_path / fmt)
        writer = base.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", "true").option("escape", '"')
        getattr(writer, "orc" if fmt == "orc" else fmt)(path) if fmt != "json" \
            else base.write.mode("overwrite").json(path)
        got = canon(read_transcripts(spark, path, format=fmt))
        assert got == want, f"format {fmt} diverged"

    with _pytest.raises(ValueError):
        read_transcripts(spark, "/tmp/x", format="avro")


def test_mega_turn_skew_guard(spark):
    """max_turn_chars bounds the per-turn kernel cost: a pathological
    multi-MB turn is truncated at the cap with the cut recorded in
    metrics (or rejected outright with on_oversize='fail'), and the
    guarded turn still extracts normally from its kept prefix."""
    import pytest as _pytest

    from pdfextract_spark.core.pipeline import extract_turn
    from pdfextract_spark.plans.extract import extract
    from pdfextract_spark.settings import Settings

    mega = "A Title\n\n" + ("lorem ipsum body words " * 100_000)  # ~2.3 MB
    st = Settings(max_turn_chars=10_000)
    r = extract_turn(mega, st)
    m = r["metrics"]
    assert m["chars_in"] == len(mega)
    assert m["chars_truncated"] == len(mega) - 10_000
    assert r["page_count"] >= 1 and m["regions_found"] > 0
    # normal-sized turns pass through untouched
    ok = extract_turn("short turn", st)
    assert ok["metrics"]["chars_truncated"] == 0
    # fail mode rejects with an attributable error
    with _pytest.raises(ValueError, match="max_turn_chars"):
        extract_turn(mega, Settings(max_turn_chars=10_000, on_oversize="fail"))
    with _pytest.raises(ValueError, match="on_oversize"):
        Settings(on_oversize="explode")
    # the Spark path surfaces the truncation in the metrics struct
    df = spark.createDataFrame(
        [("c0", 0, "user", mega[:50_000]), ("c0", 1, "assistant", "hi there")],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = {
        r["turn_idx"]: r["metrics"]
        for r in extract(df, settings=Settings(max_turn_chars=20_000)).collect()
    }
    assert out[0]["chars_truncated"] == 30_000
    assert out[1]["chars_truncated"] == 0


def test_pipeline_goldens_current(spark):
    """The committed golden parquets (exact oracles for the UDF-bound
    pipeline queries) must match what the kernel computes TODAY — a
    semantic change without `tools/freeze_pipeline_goldens.py` fails
    here, not silently in the driver's gate.  pipeline_metrics is the
    cheapest whole-pipeline checksum (chars/regions/refs over every
    turn); pipeline_references pins the exact extracted strings."""
    import pandas as pd

    from pdfextract_spark.plans.driver_queries import QUERIES

    root = __file__.rsplit("/", 2)[0]
    for name in ("pipeline_metrics", "pipeline_references"):
        want = pd.read_parquet(
            f"{root}/goldens/pipeline/sf0.001/{name}.parquet"
        )
        cols = list(want.columns)
        want = want.sort_values(cols, ignore_index=True)
        got = (
            QUERIES[name](spark, "/root/testdata/sf0.001")
            .toPandas()[cols]
            .sort_values(cols, ignore_index=True)
        )
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # every golden the oracles point at exists, at all swept SFs
    import os

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        for name in (
            "pipeline_references pipeline_titles pipeline_regions "
            "pipeline_metrics pipeline_sections pipeline_zones "
            "pipeline_conv_rollup pipeline_resolved_references "
            "pipeline_font_metrics pipeline_page_dims pipeline_masks"
        ).split():
            assert os.path.exists(f"{root}/goldens/pipeline/{sf}/{name}.parquet")


def test_extract_carry_columns(spark):
    """carry= passes input columns through the 1:1 Arrow stage
    verbatim (event-time ts for streaming watermarks, or any caller
    metadata); colliding names are rejected loudly."""
    import datetime

    import pytest as _pytest

    from pdfextract_spark.plans.extract import extract

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("c0", i, "user", t, base + datetime.timedelta(seconds=i))
        for i, t in enumerate(TEXTS)
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp",
    )
    out = extract(df, want=("references",), carry=("ts",))
    assert out.columns[-1] == "ts"
    got = {r["turn_idx"]: r["ts"] for r in out.collect()}
    assert got == {
        i: base + datetime.timedelta(seconds=i) for i in range(len(TEXTS))
    }
    with _pytest.raises(ValueError, match="collide"):
        extract(df, carry=("role",))


def test_completed_buckets_error_classification(spark, tmp_path):
    """Benign 'nothing committed yet' reads return set(): a missing
    lineage path and an empty lineage dir (crash between mkdir and
    first commit).  A hidden file is skipped, as a half-written commit
    is.  Any other read failure — here a truncated lineage file — must
    propagate: mapping it to set() would silently restart all buckets
    and append duplicate lineage rows."""
    import pyarrow as pa
    import pytest as _pytest

    from pdfextract_spark.sinks import completed_buckets

    # missing path
    assert completed_buckets(spark, str(tmp_path / "never_written")) == set()
    # existing but empty lineage dir; a garbage hidden file is ignored
    empty = tmp_path / "empty_out"
    (empty / "_lineage").mkdir(parents=True)
    (empty / "_lineage" / ".part-x.parquet").write_bytes(b"garbage")
    assert completed_buckets(spark, str(empty)) == set()

    # a truncated lineage file raises
    bad = tmp_path / "bad_out" / "_lineage"
    bad.mkdir(parents=True)
    (bad / "part-bad.parquet").write_bytes(b"PAR1xxxx")
    with _pytest.raises(pa.ArrowInvalid):
        completed_buckets(spark, str(tmp_path / "bad_out"))


def test_extract_null_turn_idx_obeys_on_error(spark):
    """A permissive JSON read keeps malformed rows as all-NULL; the
    int(turn_idx) coercion used to sit outside the poison-tolerance
    try, so one NULL turn_idx killed the job even under
    on_error='skip'.  Now: 'skip' keeps the row (NULL turn_idx),
    'fail' raises with attribution."""
    import pytest

    from pdfextract_spark.plans.extract import extract
    from pdfextract_spark.plans.masks import extract_masks

    df = spark.createDataFrame(
        [("c1", 0, "user", "fine text"), ("c1", None, "user", "poison")],
        "conv_id string, turn_idx int, role string, text string",
    )
    rows = extract(df, on_error="skip", want=()).collect()
    assert len(rows) == 2
    assert sorted(
        (r["turn_idx"] is None) for r in rows
    ) == [False, True]
    with pytest.raises(Exception, match="NULL turn_idx"):
        extract(df, on_error="fail", want=()).collect()
    with pytest.raises(Exception, match="NULL turn_idx"):
        extract_masks(df).collect()


def test_extract_rejects_unknown_want(spark):
    """A misspelled artifact name ('titles', 'refs') silently
    produced rows with the artifact missing; it must raise."""
    import pytest

    from pdfextract_spark.plans.extract import extract

    df = spark.createDataFrame(
        [("c1", 0, "user", "x")],
        "conv_id string, turn_idx int, role string, text string",
    )
    with pytest.raises(ValueError, match="titles"):
        extract(df, want=("titles",))


def test_with_bucket_type_stable(spark):
    """xxhash64 of the same value under a different integer width is
    a DIFFERENT hash, so without the (string, int) pin on the hash
    inputs a bigint-keyed input would bucket its turns differently
    from the int32 ``turn_idx`` of the extraction output."""
    from pdfextract_spark.sinks import with_bucket

    as_int = spark.createDataFrame(
        [("c", 5), ("d", 123456)], "conv_id string, turn_idx int"
    )
    as_big = spark.createDataFrame(
        [("c", 5), ("d", 123456)], "conv_id string, turn_idx bigint"
    )
    bi = {(r["conv_id"], r["turn_idx"]): r["bucket"]
          for r in with_bucket(as_int, 64).collect()}
    bb = {(r["conv_id"], r["turn_idx"]): r["bucket"]
          for r in with_bucket(as_big, 64).collect()}
    assert bi == bb, (bi, bb)


def test_resume_false_truncates_lineage(spark, tmp_path):
    """resume=False reprocesses everything: output partitions are
    overwritten, but lineage used to APPEND a second generation of
    rows — every downstream metric sum then double-counted."""
    from pdfextract_spark.sinks import run_extraction_job
    from pdfextract_spark.sources import synth_transcripts

    out = str(tmp_path / "out")
    t = synth_transcripts(spark, "/root/testdata/sf0.001", turns_per_doc=1)
    l1 = run_extraction_job(
        spark, t, out, n_buckets=4, buckets_per_batch=4, resume=False
    )
    assert l1.count() == 4
    l2 = run_extraction_job(
        spark, t, out, n_buckets=4, buckets_per_batch=4, resume=False
    )
    assert l2.count() == 4  # fresh generation, not 8 stacked rows


def test_resume_false_clears_stale_partitions(spark, tmp_path):
    """resume=False with a smaller n_buckets: the dynamic overwrite
    replaces only the partitions the rerun writes, so buckets 4..7 of
    the first generation used to stay on disk, rows the new lineage
    does not account for."""
    from pdfextract_spark.sinks import run_extraction_job

    out = str(tmp_path / "out")
    t = make_transcripts(spark)
    run_extraction_job(
        spark, t, out, n_buckets=8, buckets_per_batch=8, resume=False
    )
    lineage = run_extraction_job(
        spark, t, out, n_buckets=4, buckets_per_batch=4, resume=False
    ).collect()
    by_bucket = {
        r["bucket"]: r["count"]
        for r in spark.read.parquet(out).groupBy("bucket").count().collect()
    }
    assert by_bucket == {
        r["bucket"]: r["rows_out"] for r in lineage if r["rows_out"]
    }
    assert sum(by_bucket.values()) == len(TEXTS)


def test_job_lineage_matches_output(spark, tmp_path):
    """Lineage observed during the write equals the groupBy over the
    written output, with a zero row for every scheduled bucket that got
    no input and the sentinel rows of poisoned turns counted in
    turns_errored under on_error='skip'."""
    from pdfextract_spark.settings import Settings, Typesetter
    from pdfextract_spark.sinks import BUCKET_HASH, run_extraction_job

    out = str(tmp_path / "out")
    # title_size=0 detonates on multi-paragraph turns only
    poison = Settings(typesetter=Typesetter(title_size=0.0))
    lineage = run_extraction_job(
        spark, make_transcripts(spark), out, settings=poison,
        n_buckets=16, buckets_per_batch=4, on_error="skip",
    )
    assert lineage.schema.simpleString() == (
        "struct<bucket:int,rows_out:bigint,chars_in:bigint,"
        "chars_truncated:bigint,regions_found:bigint,"
        "sections_found:bigint,refs_matched:bigint,"
        "turns_errored:bigint,n_buckets:int,bucket_hash:string,"
        "committed_at:double>"
    )
    got = {
        r["bucket"]: r.asDict()
        for r in lineage.drop("committed_at").collect()
    }
    assert sorted(got) == list(range(16))

    written = spark.read.parquet(out)
    assert written.count() == len(TEXTS)
    zero = {
        "rows_out": 0, "chars_in": 0, "chars_truncated": 0,
        "regions_found": 0, "sections_found": 0, "refs_matched": 0,
        "turns_errored": 0,
    }
    want = {
        b: {"bucket": b, **zero, "n_buckets": 16, "bucket_hash": BUCKET_HASH}
        for b in range(16)
    }
    for r in written.groupBy("bucket").agg(
        F.count("*").alias("rows_out"),
        F.sum("metrics.chars_in").alias("chars_in"),
        F.sum("metrics.chars_truncated").alias("chars_truncated"),
        F.sum("metrics.regions_found").alias("regions_found"),
        F.sum("metrics.sections_found").alias("sections_found"),
        F.sum("metrics.refs_matched").alias("refs_matched"),
        F.sum(F.when(F.col("page_count") < 0, 1).otherwise(0)).alias(
            "turns_errored"
        ),
    ).collect():
        want[r["bucket"]].update(r.asDict())
    assert got == want
    assert sum(r["turns_errored"] for r in got.values()) > 0
    assert 0 in {r["rows_out"] for r in got.values()}


def test_job_runs_one_spark_job_per_batch(spark, tmp_path):
    """A fresh 16-bucket job in batches of 4 runs one Spark job per
    batch, the output write; the lineage is committed from the driver.
    A Spark lineage append, an aggregation job or an inferred-schema
    read would exceed the count, and batch threads that lost the
    caller's job group would fall short of it."""
    import uuid

    from pdfextract_spark.sinks import run_extraction_job

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    t = make_transcripts(spark)
    sc.setJobGroup(group, "count the jobs of one extraction job")
    try:
        run_extraction_job(
            spark, t, str(tmp_path / "out"), n_buckets=16,
            buckets_per_batch=4,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 4, len(jobs)


def test_failed_batch_stops_the_job_and_resume_finishes_it(spark, tmp_path):
    """A poisoned batch fails the job under on_error='fail'.  Nothing
    is submitted after the failure, the batch still in flight runs to
    its end and commits, and every committed bucket belongs to a batch
    that committed whole.  A clean resume then commits exactly the
    remaining buckets, each row written once."""
    import uuid

    from pdfextract_spark.settings import Settings, Typesetter
    from pdfextract_spark.sinks import (
        completed_buckets,
        run_extraction_job,
        with_bucket,
    )

    t = make_transcripts(spark)
    out = str(tmp_path / "out")
    # title_size=0 detonates on multi-paragraph turns only
    poison = Settings(typesetter=Typesetter(title_size=0.0))
    batches = [frozenset(range(b, b + 2)) for b in range(0, 16, 2)]
    poisoned = {
        b
        for r in with_bucket(t, 16).collect()
        for b in batches
        if r["bucket"] in b and "\n\n" in r["text"]
    }
    assert poisoned and len(poisoned) < len(batches) - 2

    sc = spark.sparkContext
    group = f"failing-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "a job with a poisoned batch")
    try:
        with pytest.raises(Exception, match="conv_id="):
            run_extraction_job(
                spark, t, out, settings=poison, n_buckets=16,
                buckets_per_batch=2, on_error="fail",
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    done = completed_buckets(spark, out, 16)
    committed = {b for b in batches if b <= done}
    assert done == set().union(*committed), done
    assert not committed & poisoned, done
    # one write per started batch: the clean ones all committed, the
    # failed ones are poisoned, and the batches after the failure never
    # started
    status = [
        sc.statusTracker().getJobInfo(j).status
        for j in sc.statusTracker().getJobIdsForGroup(group)
    ]
    assert status.count("SUCCEEDED") == len(committed), (status, done)
    assert 0 < status.count("FAILED") <= len(poisoned), status
    assert len(status) < len(batches), status

    lineage = run_extraction_job(
        spark, t, out, n_buckets=16, buckets_per_batch=2
    ).collect()
    assert sorted(r["bucket"] for r in lineage) == list(range(16))
    written = spark.read.parquet(out).count()
    assert sum(r["rows_out"] for r in lineage) == written == len(TEXTS)


def test_job_output_independent_of_batching(spark, tmp_path):
    """The same transcripts as 16 one-bucket batches, which cycle the
    two in-flight slots many times, and as one 16-bucket batch write
    the same rows and the same lineage apart from commit times."""
    from pdfextract_spark.sinks import run_extraction_job

    t = make_transcripts(spark)
    runs = []
    for per_batch in (1, 16):
        out = str(tmp_path / f"out{per_batch}")
        lineage = run_extraction_job(
            spark, t, out, n_buckets=16, buckets_per_batch=per_batch
        )
        rows = spark.read.parquet(out).collect()
        runs.append((
            sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])),
            sorted(tuple(r) for r in lineage.drop("committed_at").collect()),
        ))
    assert len(runs[0][0]) == len(TEXTS)
    assert len(runs[0][1]) == 16
    assert runs[0] == runs[1]


def test_completed_buckets_runs_no_spark_job(spark, tmp_path):
    """On a committed store, completed_buckets reads the lineage on
    the driver through pyarrow, and a no-op resume runs no Spark job
    either."""
    import uuid

    from pdfextract_spark.sinks import completed_buckets, run_extraction_job

    out = str(tmp_path / "out")
    t = make_transcripts(spark)
    run_extraction_job(spark, t, out, n_buckets=16, buckets_per_batch=16)
    sc = spark.sparkContext
    group = f"completed-buckets-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the jobs of completed_buckets")
    try:
        done = completed_buckets(spark, out, 16)
        run_extraction_job(spark, t, out, n_buckets=16, buckets_per_batch=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert done == set(range(16))
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 0, len(jobs)


def test_completed_buckets_on_a_scheme_only_pyarrow_opens(spark):
    """The lineage probe goes through the job's pyarrow filesystem, so
    a scheme Hadoop has no filesystem for (pyarrow's ``mock://``)
    reads as nothing committed, with no Spark job."""
    import uuid

    from pdfextract_spark.sinks import completed_buckets

    sc = spark.sparkContext
    group = f"mock-lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "completed_buckets on mock://")
    try:
        assert completed_buckets(spark, "mock:///out") == set()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_resume_from_pre_pin_lineage(spark, tmp_path):
    """Lineage committed before the n_buckets and bucket_hash pins has
    neither column, so its bucketing cannot be checked.  Resuming it
    under another bucket count used to treat its buckets as done and
    write the other buckets under the new hash beside them (3,012 rows
    for 2,000 turns in the 8 -> 16 case); it must refuse, naming the
    fix, before anything is written.  ``resume=False`` then rebuilds
    the store."""
    import glob
    import shutil

    from pdfextract_spark.sinks import (
        LINEAGE_COUNTS,
        LINEAGE_SUBDIR,
        completed_buckets,
        run_extraction_job,
    )

    t = make_transcripts(spark)
    out = str(tmp_path / "out")
    run_extraction_job(spark, t, out, n_buckets=8, buckets_per_batch=8)
    # the same store as a build before the pins committed it
    lineage_dir = f"{out}/{LINEAGE_SUBDIR}"
    cols = ["bucket", *LINEAGE_COUNTS, "committed_at"]
    rows = [
        tuple(r) for r in spark.read.parquet(lineage_dir).select(*cols).collect()
    ]
    shutil.rmtree(lineage_dir)
    ddl = (
        "bucket int, "
        + ", ".join(f"{c} bigint" for c in LINEAGE_COUNTS)
        + ", committed_at double"
    )
    spark.createDataFrame(rows, ddl).write.parquet(lineage_dir)
    files = sorted(glob.glob(f"{out}/**/*.parquet", recursive=True))

    for n in (8, 16, None):
        with pytest.raises(ValueError, match="resume=False or a fresh out_dir"):
            completed_buckets(spark, out, n)
    with pytest.raises(ValueError, match="resume=False or a fresh out_dir"):
        run_extraction_job(spark, t, out, n_buckets=16, buckets_per_batch=8)
    assert sorted(glob.glob(f"{out}/**/*.parquet", recursive=True)) == files

    lineage = run_extraction_job(
        spark, t, out, n_buckets=16, buckets_per_batch=8, resume=False
    ).collect()
    assert sorted(r["bucket"] for r in lineage) == list(range(16))
    assert {r["n_buckets"] for r in lineage} == {16}
    assert sum(r["rows_out"] for r in lineage) == len(TEXTS)
    assert spark.read.parquet(out).count() == len(TEXTS)


def test_lineage_reads_see_every_committed_row(spark, tmp_path):
    """``_lineage`` is underscore-prefixed so that reads of the output
    skip it; reading it directly makes Spark log "All paths were
    ignored" and still return every row.  The committed rows are read
    here from the files with pyarrow and compared with the job's
    returned lineage and with a direct Spark read, so a Spark that
    starts skipping the hidden path fails this test."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from pdfextract_spark.sinks import (
        LINEAGE_DDL,
        LINEAGE_SUBDIR,
        completed_buckets,
        run_extraction_job,
    )

    out = str(tmp_path / "out")
    lineage = run_extraction_job(
        spark, make_transcripts(spark), out, n_buckets=8,
        buckets_per_batch=4,
    )
    lineage_dir = f"{out}/{LINEAGE_SUBDIR}"
    # one file per batch, committed by a rename that leaves no hidden
    # temporary behind
    files = glob.glob(f"{lineage_dir}/*.parquet")
    assert len(files) == 2, files
    assert glob.glob(f"{lineage_dir}/.part-*.parquet") == []
    # NOT NULL columns are required in every footer
    not_null = {
        f.name for f in StructType.fromDDL(LINEAGE_DDL) if not f.nullable
    }
    assert not_null
    for f in files:
        schema = pq.ParquetFile(f).schema
        required = {
            schema.column(i).name
            for i in range(len(schema))
            if schema.column(i).max_definition_level == 0
        }
        assert required == not_null, (f, required)
    on_disk = pa.concat_tables([pq.read_table(f) for f in files])
    key = ("bucket", "rows_out", "committed_at")
    want = sorted(zip(*(on_disk.column(c).to_pylist() for c in key)))
    assert len(want) == 8
    assert sorted(tuple(r) for r in lineage.select(*key).collect()) == want
    by_spark = spark.read.schema(LINEAGE_DDL).parquet(lineage_dir)
    assert sorted(tuple(r) for r in by_spark.select(*key).collect()) == want
    assert completed_buckets(spark, out, 8) == set(range(8))
    assert "rows_out" not in spark.read.parquet(out).columns


def test_job_refuses_out_dir_pyarrow_cannot_open(spark, tmp_path, monkeypatch):
    """Every file operation of the job goes through one pyarrow.fs
    filesystem, so a Hadoop-only scheme is refused with a ValueError
    before any Spark job runs.  A relative path is made absolute
    against the driver's working directory."""
    import os
    import uuid

    from pdfextract_spark.sinks import run_extraction_job

    t = make_transcripts(spark)
    sc = spark.sparkContext
    group = f"bad-out-dir-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "a job into an unsupported filesystem")
    try:
        with pytest.raises(ValueError, match=r"'s3a'.*file://.*s3://"):
            run_extraction_job(spark, t, "s3a://b/out", n_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    monkeypatch.chdir(tmp_path)
    lineage = run_extraction_job(
        spark, t, "rel_out", n_buckets=4, buckets_per_batch=4
    )
    assert lineage.count() == 4
    assert os.path.isdir(tmp_path / "rel_out" / "_lineage")
    assert spark.read.parquet(str(tmp_path / "rel_out")).count() == len(TEXTS)


def test_job_returns_lineage_through_its_own_filesystem(
    spark, tmp_path, monkeypatch
):
    """The returned lineage is read through the job's pyarrow
    filesystem, as the resume reads it.  Here ``out_dir`` is an
    ``s3://`` URI that the job's filesystem serves from local disk and
    Hadoop has no filesystem for: a Spark read of the lineage would
    raise after every batch had committed."""
    import uuid

    from pyarrow.fs import LocalFileSystem

    from pdfextract_spark import sinks

    root = str(tmp_path / "out")
    monkeypatch.setattr(
        sinks, "_filesystem", lambda out_dir: (LocalFileSystem(), root)
    )
    sc = spark.sparkContext
    group = f"s3-lineage-{uuid.uuid4().hex}"
    t = make_transcripts(spark)
    lineage = sinks.run_extraction_job(
        spark, t, "s3://bucket/out", n_buckets=8, buckets_per_batch=4
    )
    sc.setJobGroup(group, "read the returned lineage")
    try:
        rows = lineage.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r["bucket"] for r in rows) == list(range(8))
    assert sum(r["rows_out"] for r in rows) == len(TEXTS)
    assert spark.read.parquet(root).count() == len(TEXTS)


def test_job_local_out_dir_ignores_default_fs(spark, tmp_path, monkeypatch):
    """pyarrow writes a scheme-less ``out_dir`` to local disk, and the
    resume and the returned lineage read the same local files, never
    resolving the bare path against ``fs.defaultFS``.  Here
    ``fs.defaultFS`` names a scheme no filesystem serves: any bare-path
    lookup fails, and a resume pass still sees every committed
    bucket.  The returned lineage is driver-side rows: a frame that
    reads no file."""
    import os

    from pdfextract_spark.sinks import run_extraction_job

    t = make_transcripts(spark)
    monkeypatch.chdir(tmp_path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "nofs://cluster/")
    try:
        lineage = run_extraction_job(
            spark, t, "out", n_buckets=4, buckets_per_batch=2
        )
        assert lineage.inputFiles() == []
        assert lineage.count() == 4
        again = run_extraction_job(
            spark, t, "out", n_buckets=4, buckets_per_batch=2
        )
        assert again.count() == 4
    finally:
        conf.set("fs.defaultFS", saved)
    assert spark.read.parquet(str(tmp_path / "out")).count() == len(TEXTS)
    assert os.path.isdir(tmp_path / "out" / "_lineage")


def test_cli_buckets_counts_rows_without_default_fs(
    spark, tmp_path, monkeypatch, capsys
):
    """``extract --buckets`` with a relative ``--output`` reports the
    rows the job wrote from its lineage.  A re-read of the bare path
    would resolve it against ``fs.defaultFS``, which here names a
    scheme no filesystem serves."""
    from pdfextract_spark.__main__ import main

    src = tmp_path / "in"
    make_transcripts(spark).write.parquet(str(src))
    monkeypatch.chdir(tmp_path)
    # main() ends by stopping the session it got: keep the shared one
    monkeypatch.setattr(spark, "stop", lambda: None)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = conf.get("fs.defaultFS")
    conf.set("fs.defaultFS", "nofs://cluster/")
    try:
        main(["extract", "--buckets", "4", "--input", src.as_uri(),
              "--output", "out", "--master", "local[1]"])
    finally:
        conf.set("fs.defaultFS", saved)
        spark.sparkContext.setLogLevel("ERROR")
    assert f"wrote {len(TEXTS)} rows to out" in capsys.readouterr().err
    assert spark.read.parquet(str(tmp_path / "out")).count() == len(TEXTS)


def test_commit_moves_only_listed_files(spark, tmp_path, monkeypatch):
    """The driver commits a bucket from the files its manifest lists.
    A file beside them that no manifest row names — what a failed or
    speculative task attempt leaves in the staging dir — never reaches
    the output, and goes with the batch's staging dir.  A ``_staging``
    left by a crashed run is invisible to reads of the output and is
    removed when the next job starts."""
    import glob
    import os
    import shutil

    from pdfextract_spark import sinks

    real = sinks._bucket_writes
    listed, strays, stage_dirs = [], [], []

    class WithStrays:
        def __init__(self, stage, stage_dir):
            self.stage = stage
            stage_dirs.append(stage_dir)

        def collect(self):
            rows = self.stage.collect()
            for r in rows:
                listed.append(f"bucket={r['bucket']}/{os.path.basename(r['path'])}")
                stray = os.path.join(
                    os.path.dirname(r["path"]), "part-0-1-stray.parquet"
                )
                shutil.copy(r["path"], stray)
                strays.append(stray)
            return rows

    def writes(df, settings, want, on_error, fs, stage_dir):
        return WithStrays(
            real(df, settings, want, on_error, fs, stage_dir), stage_dir
        )

    monkeypatch.setattr(sinks, "_bucket_writes", writes)
    out = str(tmp_path / "out")
    lineage = sinks.run_extraction_job(
        spark, make_transcripts(spark), out, n_buckets=4, buckets_per_batch=2
    ).collect()
    monkeypatch.undo()
    assert strays and len(stage_dirs) == 2
    got = sorted(
        os.path.relpath(f, out) for f in glob.glob(f"{out}/bucket=*/*")
    )
    assert got == sorted(listed)
    assert not any(os.path.exists(d) for d in stage_dirs)
    assert not os.path.exists(f"{out}/_staging")
    assert spark.read.parquet(out).count() == len(TEXTS)
    assert sum(r["rows_out"] for r in lineage) == len(TEXTS)

    # a crashed run's staging dir holding a valid output file
    crashed = tmp_path / "out" / "_staging" / "crashed" / "bucket=0"
    crashed.mkdir(parents=True)
    shutil.copy(os.path.join(out, listed[0]), crashed / "part-0-0-x.parquet")
    assert spark.read.parquet(out).count() == len(TEXTS)
    sinks.run_extraction_job(
        spark, make_transcripts(spark), out, n_buckets=4, buckets_per_batch=2
    )
    assert not os.path.exists(f"{out}/_staging")
    assert spark.read.parquet(out).count() == len(TEXTS)


@pytest.mark.parametrize("want", [None, ("references",)])
def test_job_output_schema_is_extracts(spark, tmp_path, want):
    """The job's output reads back as ``extract()``'s schema plus the
    ``bucket`` partition column, and no data file carries pyarrow's
    ``ARROW:schema`` footer key.  A task writes each bucket file's rows
    as one row group, not one per Arrow batch it received, with column
    statistics outside arrays only."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql.types import IntegerType

    from pdfextract_spark.plans.extract import extract
    from pdfextract_spark.sinks import run_extraction_job

    # one task, which receives its 40 turns as 20 Arrow batches
    t = spark.createDataFrame(
        [(f"c{i % 3}", i, "user", TEXTS[i % len(TEXTS)]) for i in range(40)],
        "conv_id string, turn_idx int, role string, text string",
    ).repartition(1)
    out = str(tmp_path / "out")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        run_extraction_job(
            spark, t, out, n_buckets=4, buckets_per_batch=4, want=want
        )
    finally:
        spark.conf.set(key, saved)
    assert spark.read.parquet(out).schema == extract(t, want=want).schema.add(
        "bucket", IntegerType()
    )
    files = glob.glob(f"{out}/bucket=*/*.parquet")
    assert files
    assert max(pq.ParquetFile(f).metadata.num_rows for f in files) > 2
    for f in files:
        meta = pq.ParquetFile(f).metadata
        assert b"ARROW:schema" not in (meta.metadata or {})
        assert meta.num_row_groups == 1
        # min/max only where a filter can be pushed down: not in arrays
        group = meta.row_group(0)
        stats = {
            group.column(i).path_in_schema: group.column(i).is_stats_set
            for i in range(meta.num_columns)
        }
        assert stats["turn_idx"] and stats["conv_id"]
        assert not any(v for k, v in stats.items() if ".list." in k)


def test_resume_refuses_another_bucket_hash(spark, tmp_path):
    """Lineage records the bucket hash with its pinned input types
    next to ``n_buckets``.  Lineage committed under another hash (here
    the unpinned one) refuses to resume, as another ``n_buckets``
    does: its bucket ids name other rows."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfextract_spark.sinks import (
        BUCKET_HASH,
        LINEAGE_SUBDIR,
        completed_buckets,
        run_extraction_job,
    )

    t = make_transcripts(spark)
    out = str(tmp_path / "out")
    lineage = run_extraction_job(spark, t, out, n_buckets=4, buckets_per_batch=2)
    assert {r["bucket_hash"] for r in lineage.collect()} == {BUCKET_HASH}
    assert completed_buckets(spark, out, 4) == {0, 1, 2, 3}

    f = sorted(glob.glob(f"{out}/{LINEAGE_SUBDIR}/*.parquet"))[0]
    table = pq.read_table(f)
    i = table.schema.get_field_index("bucket_hash")
    unpinned = "pmod(xxhash64(conv_id, turn_idx), n_buckets)"
    table = table.set_column(
        i, table.schema.field(i), pa.array([unpinned] * table.num_rows)
    )
    pq.write_table(table, f)
    with pytest.raises(ValueError, match="bucket_hash"):
        completed_buckets(spark, out, 4)
    with pytest.raises(ValueError, match="bucket_hash"):
        run_extraction_job(spark, t, out, n_buckets=4, buckets_per_batch=2)


def test_streaming_star_surface_complete():
    """__all__ must list the module's own functions alongside the
    TRANSCRIPT_DDL re-export (a re-export-only __all__ hid them from
    star imports)."""
    import importlib

    m = importlib.import_module(
        "pdfextract_spark.streaming.extract_stream"
    )
    for name in ("extract_stream", "start_file_stream",
                 "streaming_conv_metrics", "streaming_dedup_exact"):
        assert name in m.__all__ and hasattr(m, name)
