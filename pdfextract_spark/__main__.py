"""CLI entry point — the reference's ``bin/pdf-extract`` surface
re-expressed for transcript tables (bin/pdf-extract:58-133).

    python -m pdfextract_spark extract --references --titles \\
        --input /path/transcripts.parquet --output /tmp/out \\
        --set min_sequence_count=4 --set title_slop=0.3

- artifact flags (--regions --zones --columns --sections --titles
  --references) mirror the reference CLI's $chosen_objects; when none
  is given, all artifacts are extracted
- --set NAME=VALUE mirrors the reference's settings overrides
  (bin/pdf-extract:93-100), applied over the declared defaults
- --as xml renders per-turn XML (view/xml_view.rb shape) instead of
  the columnar table
- --synth-from SF_DIR synthesizes the deterministic transcript table
  from a documents.parquet directory instead of reading --input
"""

from __future__ import annotations

import argparse
import dataclasses
import sys
from functools import partial

from .settings import DEFAULT, Settings
from .worker import settle_worker

ARTIFACTS = (
    "regions", "zones", "columns", "sections", "titles", "references",
    "characters", "chunks", "margins",
)
# reference CLI group flags (bin/pdf-extract:12-14,64-66); zone
# sub-type flags select the zones artifact filtered by group
SEMANTIC = ("references", "titles", "sections")
ZONE_GROUPS = {"headers": "headers", "footers": "footers", "bodies": "bodies"}


def apply_overrides(settings: Settings, pairs: list[str]) -> Settings:
    """--set name=value with type coercion from the declared default
    (the reference's Settings.declare/override, pdf.rb:5-50)."""
    kv = {}
    for pair in pairs:
        name, _, raw = pair.partition("=")
        if not hasattr(settings, name):
            known = [f.name for f in dataclasses.fields(Settings)]
            raise SystemExit(f"unknown setting {name!r}; known: {known}")
        cur = getattr(settings, name)
        kv[name] = type(cur)(raw) if not isinstance(cur, bool) else raw == "true"
    return dataclasses.replace(settings, **kv)


def _load_transcripts(spark, args):
    """Shared --input/--synth-from/--format handling (single source of
    truth for the three subcommands)."""
    if args.synth_from:
        from .sources import synth_transcripts

        return synth_transcripts(spark, args.synth_from)
    if args.input:
        from .sources.tables import read_transcripts

        return read_transcripts(spark, args.input, format=args.format)
    raise SystemExit("one of --input / --synth-from is required")


def _session(args, name):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(args.master)
        .appName(name)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def extract_bib(args) -> None:
    """References -> catalog resolution -> one BibTeX entry per
    reference (bin/pdf-extract extract-bib; resolution is a catalog
    join instead of per-row HTTP, see operators/resolve.py)."""
    settings = apply_overrides(DEFAULT, args.overrides)
    spark = _session(args, "pdfextract-spark-bib")
    transcripts = _load_transcripts(spark, args)

    from .core.bibview import bib_entry
    from .operators.resolve import resolve_references, synth_citation_catalog
    from .plans.extract import extract_exploded

    refs = extract_exploded(transcripts, "references", settings=settings)
    catalog = (
        spark.read.parquet(args.catalog)
        if args.catalog
        else synth_citation_catalog(spark)
    )
    resolved = resolve_references(refs, catalog, min_score=args.min_score)

    def to_bib(batches):
        settle_worker()
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"],
                    "turn_idx": pdf["turn_idx"],
                    "order": pdf["order"],
                    "bib": [
                        bib_entry(dict(zip(pdf.columns, row)))
                        for row in pdf.itertuples(index=False)
                    ],
                }
            )

    out = resolved.mapInPandas(
        to_bib, schema="conv_id string, turn_idx int, order int, bib string"
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"wrote {n} bib entries to {args.output}", file=sys.stderr)
    spark.stop()


def mark(args) -> None:
    """Per-page SVG layout masks (bin/pdf-extract 'mark' analog)."""
    from .plans.masks import extract_masks

    settings = apply_overrides(DEFAULT, args.overrides)
    types = tuple(t for t in args.types.split(",") if t)
    spark = _session(args, "pdfextract-spark-mark")
    transcripts = _load_transcripts(spark, args)
    out = extract_masks(transcripts, settings, types=types).select(
        "conv_id", "turn_idx", "page", "svg"
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(f"wrote {n} page masks to {args.output}", file=sys.stderr)
    spark.stop()


def main(argv: list[str] | None = None) -> None:
    # flags every subcommand takes
    shared = argparse.ArgumentParser(add_help=False)
    shared.add_argument("--input", help="transcripts path")
    shared.add_argument("--synth-from", help="sf dir with documents.parquet")
    shared.add_argument("--format", default="parquet",
                        choices=["parquet", "orc", "json", "csv"],
                        help="input format (schema-enforced reader)")
    shared.add_argument("--output", required=True)
    shared.add_argument("--set", dest="overrides", action="append", default=[])
    shared.add_argument("--master", default="local[*]")

    ap = argparse.ArgumentParser(prog="pdfextract_spark")
    sub = ap.add_subparsers(dest="command", required=True)

    ex = sub.add_parser("extract", parents=[shared],
                        help="run the extraction pipeline")
    for a in ARTIFACTS:
        ex.add_argument(f"--{a}", action="store_true")
    ex.add_argument("--semantic", action="store_true",
                    help="references + titles + sections (reference CLI group flag)")
    for z in ZONE_GROUPS:
        ex.add_argument(f"--{z}", action="store_true",
                        help=f"zones filtered to {z}")
    ex.add_argument("--no-lines", action="store_true",
                    help="omit nested line elements from XML output")
    ex.add_argument("--outline", action="store_true",
                    help="XML output with geometry only, no text content")
    ex.add_argument("--precision", type=int, default=None,
                    help="numeric rounding digits (reference --precision)")
    ex.add_argument("--as", dest="render_as", choices=["table", "xml"],
                    default="table")
    ex.add_argument("--buckets", type=int, default=0,
                    help="checkpointed/resumable bucketed run")

    eb = sub.add_parser(
        "extract-bib",
        parents=[shared],
        help="extract references, resolve against a metadata catalog, "
        "emit BibTeX entries (reference CLI extract-bib, network-free)",
    )
    eb.add_argument("--catalog", help="metadata catalog parquet "
                    "(doi,title,author,year); synthetic when omitted")
    eb.add_argument("--min-score", type=float, default=0.5)

    mk = sub.add_parser(
        "mark",
        parents=[shared],
        help="render per-page SVG masks of artifact bounding boxes "
        "(reference CLI 'mark'; SVG since the graft has no source PDF "
        "to overlay)",
    )
    mk.add_argument("--types", default="regions,zones,columns")

    args = ap.parse_args(argv)
    if args.command == "extract-bib":
        return extract_bib(args)
    if args.command == "mark":
        return mark(args)
    settings = apply_overrides(DEFAULT, args.overrides)
    if args.precision is not None:
        settings = dataclasses.replace(settings, precision=args.precision)
    chosen = list(a for a in ARTIFACTS if getattr(args, a))
    if args.semantic:
        chosen += [a for a in SEMANTIC if a not in chosen]
    zone_filter = [g for g in ZONE_GROUPS if getattr(args, g)]
    if zone_filter and "zones" not in chosen:
        chosen.append("zones")
    chosen = tuple(chosen)
    want = tuple({"titles": "title"}.get(a, a) for a in chosen) or None

    spark = _session(args, "pdfextract-spark-cli")
    transcripts = _load_transcripts(spark, args)

    if args.render_as == "xml":
        import pyarrow as pa

        from .core.xmlview import render_turn_xml
        from .plans.extract import kernel_rows

        # flag-less default stays the six primary artifacts: the debug
        # set (characters/chunks/margins) is opt-in — per-glyph XML
        # dwarfs the real outputs (plans/extract.py DEFAULT_ARTIFACTS)
        kernel_want = tuple(chosen) or ARTIFACTS[:6]
        render = partial(
            render_turn_xml, settings=settings, lines=not args.no_lines,
            outline=args.outline, zone_filter=zone_filter or None,
        )
        schema = pa.schema(
            [("conv_id", pa.string()), ("turn_idx", pa.int32()), ("xml", pa.string())]
        )

        def to_xml(batches):
            settle_worker()
            for batch in batches:
                yield pa.RecordBatch.from_pylist(
                    [
                        {"conv_id": conv_id, "turn_idx": turn_idx, "xml": render(res)}
                        for conv_id, turn_idx, _, res in kernel_rows(
                            batch, settings, kernel_want, "fail"
                        )
                    ],
                    schema=schema,
                )

        out = transcripts.select("conv_id", "turn_idx", "role", "text").mapInArrow(
            to_xml, schema="conv_id string, turn_idx int, xml string"
        )
        out.write.mode("overwrite").parquet(args.output)
    elif args.buckets:
        if zone_filter:
            raise SystemExit(
                "--headers/--footers/--bodies are not supported with "
                "--buckets (the bucketed sink writes whole result rows); "
                "filter the zones column downstream instead"
            )
        from .sinks import run_extraction_job

        lineage = run_extraction_job(
            spark, transcripts, args.output, settings,
            n_buckets=args.buckets, resume=True, want=want,
        )
        # from the lineage, not a re-read of --output: the job wrote a
        # local --output to local disk, and a bare-path Spark read
        # resolves against fs.defaultFS
        n = lineage.groupBy().sum("rows_out").first()[0]
    else:
        from .plans.extract import extract

        out = extract(transcripts, settings, want=want)
        if zone_filter:
            from pyspark.sql import functions as F

            keep = F.array(*[F.lit(g) for g in zone_filter])
            out = out.withColumn(
                "zones",
                F.filter(
                    F.col("zones"), lambda z: F.array_contains(keep, z["zone"])
                ),
            )
        out.write.mode("overwrite").parquet(args.output)
    if not args.buckets or args.render_as == "xml":
        n = spark.read.parquet(args.output).count()
    print(f"wrote {n} rows to {args.output}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
