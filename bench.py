"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries":
{name: sec}, "sf", plus extraction-throughput extras}.  The per-window
samples behind it go to .bench/bands.json.

Modes:
  python bench.py                      # headline suite, one JSON line
  python bench.py --cores N --extract-only
                                       # subprocess worker for the
                                       # scaling harness (tools/scaling.py)
"""

from __future__ import annotations

import json
import os
import sys
import time


def build_spark(cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("pdfextract-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def sf_of(sf_dir: str) -> float:
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else 0.0


# Pinned bench protocol: the suite below plus the two extraction rows
# is the manifest recorded in every BENCH_r{N}.json — only append to
# it, so rounds compare query-by-query.
# Round 5 on: the suite runs in WINDOWS separate passes, each window
# timing every Spark query and then IMMEDIATELY its DuckDB oracle, so
# each query gets a (spark, duck) pair sampled seconds apart — the
# shared host swings 2-5x between windows, so cross-engine ratios are
# only honest when both sides see the same load.  The headline
# "queries"/"duckdb_sec" fields stay min-across-windows; note min over
# 3 windows draws stochastically lower than the min-of-2 rounds 1-4
# recorded (their "min_of" field), so the window count is emitted as
# "windows", never as "min_of", and cross-round comparisons should
# read the per-query bands (samples, medians, same-window ratios,
# written to BANDS_FILE), not the headline min.  Scaling RATIOS use
# time-paired rounds instead — tools/scaling.py.
WINDOWS = int(os.environ.get("SPARK_GRAFT_BENCH_WINDOWS", "3"))
if WINDOWS < 1:
    raise SystemExit(
        f"SPARK_GRAFT_BENCH_WINDOWS={WINDOWS}: need >= 1 timing window"
    )

# Operator queries benched besides the flagship extraction, in the
# order their timings are emitted.
BENCH_QUERIES = [
    "a2_islands_sessionize",
    "a3_overlap_merge",
    "a4_interval_union_stats",
    "p10_j2_containment_join",
    "j1_interval_join",
    "a9_ideal_scoring",
    "f10_numeric_sequence",
    "f12_margin_split",
    "boilerplate_strip",
    "dedup_exact",
    "dedup_minhash_bands",
    "dedup_simhash",
    "quality_score",
    "token_count_bpe",
    "fingerprint_minshingle",
    "ann_cosine_topk",
    "j6_asof_join",
    "dedup_paragraph_exact",
    "dedup_duplicate_clusters",
    "hypertable_rollup",
    "sketch_count_min",
    "a12_kmeans_centers",
    "a13_svm_reference_score",
    "near_dup_dedup",
    "dedup_substring_stats",
    # the same operator on an 8x-mirrored corpus (min_count 2 -> 16,
    # identical duplicated-gram set): the base entry's 5,000-doc input
    # is fixed-overhead-dominated at sf0.1, this one measures the
    # amortized regime a large run lives in
    "dedup_substring_stats_8x",
]


# the per-window samples behind every ratio; too long for the stdout
# line, whose last 2,000 characters are all the round driver keeps
BANDS_FILE = ".bench/bands.json"


def summarize(
    queries: dict[str, float],
    spark_w: dict[str, list[float]] | None,
    duck_w: dict[str, list[float]] | None,
    sf_dir: str,
    cores: int,
    n_turns: int,
    tps: float,
) -> tuple[dict, dict]:
    """The headline dict and the per-query ``bands`` (samples, medians,
    same-window ratios) from the per-window Spark and DuckDB seconds;
    ``spark_w`` is None on an extraction-only run.  Fills ``queries``
    with each benched query's min-across-windows seconds."""
    import statistics

    bands: dict = {}
    extras: dict = {}
    if spark_w is not None:
        for name in BENCH_QUERIES:
            sw, dw = spark_w[name], duck_w[name]
            ratios = [s / d for s, d in zip(sw, dw)]
            queries[name] = round(min(sw), 3)
            bands[name] = {
                "spark": [round(x, 3) for x in sw],
                "duckdb": [round(x, 3) for x in dw],
                "spark_median": round(statistics.median(sw), 3),
                "duckdb_median": round(statistics.median(dw), 3),
                "ratio_by_window": [round(r, 2) for r in ratios],
                "ratio_min": round(min(ratios), 2),
                "ratio_median": round(statistics.median(ratios), 2),
            }
        extras["windows"] = WINDOWS
        extras["bands_file"] = BANDS_FILE
        # min-across-windows denominators keep the field shape earlier
        # rounds recorded; the same-window pairing lives in the bands
        extras["duckdb_sec"] = {
            name: round(min(duck_w[name]), 3) for name in BENCH_QUERIES
        }
        # j1_spark_over_duckdb keeps its rounds-1-4 min/min semantics
        # (queries[j1] / j1_duckdb_sec reproduces it) so cross-round
        # reads of the field compare like with like; the same-window
        # median lives in j1_ratio_median (and in the bands)
        extras["j1_duckdb_sec"] = extras["duckdb_sec"]["j1_interval_join"]
        extras["j1_spark_over_duckdb"] = round(
            queries["j1_interval_join"] / extras["j1_duckdb_sec"], 2
        )
        extras["j1_ratio_median"] = bands["j1_interval_join"][
            "ratio_median"
        ]
    out = {
        "metric": "headline suite wall time (extraction + operators)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf_of(sf_dir),
        "cores": cores,
        "turns": n_turns,
        "extract_turns_per_sec": round(tps, 1),
        **extras,
    }
    return out, bands


def headline_line(out: dict) -> str:
    """The one JSON line bench.py prints, without spaces after the
    separators to stay inside the driver's tail capture."""
    return json.dumps(out, separators=(",", ":"))


def run_extraction(spark, sf_dir: str, turns_per_doc: int):
    """Flagship: synth transcripts -> full extraction -> noop sink.
    Returns (n_turns, seconds, turns_per_sec).

    A small warm-up pass first spins up and primes the Python workers
    (imports + JIT): on a long-lived cluster workers are reused across
    stages, so steady-state throughput is the meaningful number —
    interpreter cold-start would otherwise dominate short local runs
    and scale WITH core count, inverting any scaling measurement."""
    from pdfextract_spark.plans import extract
    from pdfextract_spark.sources import synth_transcripts

    cores = spark.sparkContext.defaultParallelism
    t = synth_transcripts(spark, sf_dir, turns_per_doc=turns_per_doc)
    t = t.cache()
    n = t.count()  # materialize input outside the timed window

    warm = t.limit(cores * 8).repartition(cores)
    extract(warm).write.format("noop").mode("overwrite").save()

    t0 = time.time()
    extract(t, repartition=max(cores * 4, 32)).write.format("noop").mode(
        "overwrite"
    ).save()
    dt = time.time() - t0

    # references+title projection (S8): the slimmer output row is the
    # configuration a refs-harvesting pipeline would run
    t0 = time.time()
    extract(
        t, repartition=max(cores * 4, 32), want=("references", "title")
    ).write.format("noop").mode("overwrite").save()
    dt_refs = time.time() - t0
    t.unpersist()
    return n, dt, n / dt, dt_refs


def main() -> None:
    cores_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cores = int(cores_env)
    extract_only = "--extract-only" in sys.argv
    if "--cores" in sys.argv:
        cores = int(sys.argv[sys.argv.index("--cores") + 1])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    turns_per_doc = int(os.environ.get("SPARK_GRAFT_TURNS_PER_DOC", "8"))

    spark = build_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}

    n_turns, ext_sec, tps, refs_sec = run_extraction(spark, sf_dir, turns_per_doc)
    queries["extract_pipeline"] = round(ext_sec, 3)
    queries["extract_refs_only"] = round(refs_sec, 3)

    spark_w = duck_w = None
    if not extract_only:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from pdfextract_spark.plans.driver_queries import QUERIES

        # JIT/codegen warm-up for the operator paths (hash agg, window,
        # exchange, md5 expr) so the first timed query doesn't absorb
        # one-time JVM compilation
        warm = (
            spark.range(200_000)
            .select((F.col("id") % 97).alias("k"), F.md5(F.col("id").cast("string")).alias("h"))
            .groupBy("k")
            .agg(F.count("*"), F.min("h"), F.max("h"))
            .withColumn("rk", F.row_number().over(Window.partitionBy().orderBy("k")))
        )
        warm.write.format("noop").mode("overwrite").save()

        # fence_scope: fenced operators (LSH band / shingle / exact-
        # group tables, CC round checkpoints) release their checkpoint
        # storage after each timed run instead of accumulating across
        # the whole suite + the DuckDB denominator pass.  The release
        # happens AFTER the timed window, so timings are unchanged.
        import duckdb

        from pdfextract_spark.operators.fence import fence_scope
        from pdfextract_spark.plans.driver_queries import ORACLES

        con = duckdb.connect()
        for tname in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            con.sql(
                f"CREATE VIEW {tname} AS SELECT * FROM "
                f"'{sf_dir}/{tname}.parquet'"
            )

        spark_w = {n: [] for n in BENCH_QUERIES}
        duck_w = {n: [] for n in BENCH_QUERIES}
        for _w in range(WINDOWS):
            # each query's DuckDB oracle runs IMMEDIATELY after its
            # Spark run — the two sides of a ratio are seconds apart,
            # not separated by a whole suite pass on a host whose load
            # swings 2-5x within a minute
            for name in BENCH_QUERIES:
                with fence_scope():
                    t0 = time.time()
                    QUERIES[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    spark_w[name].append(time.time() - t0)
                t0 = time.time()
                con.sql(ORACLES[name]).fetchall()
                duck_w[name].append(time.time() - t0)

    out, bands = summarize(
        queries, spark_w, duck_w, sf_dir, cores, n_turns, tps
    )
    if bands:
        root = os.path.dirname(os.path.abspath(__file__))
        path = os.path.join(root, BANDS_FILE)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(bands, f, indent=1)
    print(headline_line(out))


if __name__ == "__main__":
    main()
