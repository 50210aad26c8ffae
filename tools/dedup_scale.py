"""Dedup-suite scale runs (round-4 evidence item): drive the composed
near-dup pipeline and the LSH->verify->CC cluster pipeline at 8-16x
the sf0.1 corpus, mirroring the extraction path's 640k-turn protocol.

Corpus: the sf0.1 documents table mirrored M-fold — odd mirrors are
EXACT copies (exercise the exact-collapse / mega-group path: each base
doc becomes an exact group of size ceil(M/2)), even mirrors append a
per-mirror suffix (near-dups that must pass LSH + Jaccard verify:
ceil(M/2) distinct canonicals per base doc).  Structure checks (a scale
run is also a correctness run): EXACT copies always share their base's
cluster (deterministic — identical text means identical hash and
identical MinHash signature), cluster sizes sum to the corpus, and the
near-dup output has exactly one canonical per cluster — asserted
strictly.  Near-dup mirrors attach probabilistically (a very short
base doc's Jaccard vs its suffixed mirror falls below the 0.5 gate —
~1% of sf docs), so their attach rate is asserted >= 0.98 and reported
as a metric rather than required to be 1.0.

Prints one JSON line per run:
  {"query", "mult", "docs", "wall_sec", "docs_per_sec", "clusters",
   "cc_rounds", "peak_rss_mb", "cores"}

Usage: python tools/dedup_scale.py \
    [near_dup|clusters|substring|retrieval|bloom] [mult] [cores]

The ``substring`` mode runs substring-span dedup (n=8) with its own
per-class full-coverage invariant — see ``_run_substring``.  The
round-5 ``retrieval`` mode runs BM25 over the same mirrored corpus
with an exact-mirror score-equality invariant (``_run_retrieval``);
``bloom`` builds+merges+probes a Bloom filter at ``mult`` MILLION
distinct items with a zero-false-negative assertion (``_run_bloom``
— mult=10 is the canonical 10^7 run; no corpus needed).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = __file__.rsplit("/", 2)[0]
sys.path.insert(0, ROOT)


def _peak_rss_mb() -> int:
    """Peak RSS (VmHWM) of this process plus its live children — in
    local mode the JVM holding every executor thread is a child, and
    RUSAGE_CHILDREN only counts already-reaped children, so /proc is
    the honest source."""
    total = 0
    me = os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                st = f.read()
            if pid != str(me):
                ppid = int(st.split("PPid:\t")[1].split("\n")[0])
                if ppid != me:
                    continue
            total += int(st.split("VmHWM:\t")[1].split(" kB")[0])
        except (OSError, IndexError, ValueError):
            continue
    return total // 1024


def build_corpus(spark, sf_dir: str, mult: int):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    parts = [docs]
    for m in range(1, mult):
        if m % 2 == 1:  # exact copy — collapses before LSH
            t = F.col("text")
        else:  # near-dup — must pass the Jaccard gate
            t = F.concat(F.col("text"), F.lit(f" mirror variant {m}"))
        parts.append(
            docs.select(
                (F.col("doc_id") + m * 10_000_000).alias("doc_id"),
                t.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    # scale runs SHOULD spread: M x 5000 docs of shingle+md5 work is
    # compute-dominant (unlike the sf0.1 bench where the text shuffle
    # cost more than the query).  Hash-partition by doc_id (not
    # round-robin): doc_id keys are unique so the spread is just as
    # even, and per-doc aggregations downstream (substring stats'
    # seed-position fold) reuse the partitioning instead of shuffling
    # the exploded seed table — the same choice the driver queries
    # ship (_spread_by), so scale runs measure the shipped plan shape.
    return out.repartition(
        spark.sparkContext.defaultParallelism * 2, "doc_id"
    )


def _run_substring(spark, corpus, n_docs, mult, cores, sf_dir) -> None:
    """Substring-span dedup (operators/dedup.substring_dedup_stats,
    n=8) at M x the sf corpus.  The mirrored corpus pins a STRICT
    per-class invariant (every sf doc has >= 10 tokens, so every
    class qualifies at n=8):

    - exact class (base + odd mirrors): every 8-gram occurs in >= 2
      docs by construction, so the whole token stream is ONE
      full-coverage span — dup_tokens == n_tokens, n_spans == 1.
    - near class (even mirrors, text + 3-token suffix): the body is
      fully covered via the base copies, and any covered boundary
      position extends the SAME island (the suffix is shorter than
      the gram, so the last possible seed starts before the body
      end) — n_spans == 1, n_tokens - 3 <= dup_tokens <= n_tokens.

    Violating ANY row fails the run: the scale run is also a
    correctness run, mirroring the cluster-path protocol above."""
    import time as _time

    from pyspark.sql import functions as F

    from pdfextract_spark.operators import dedup
    from pdfextract_spark.operators.fence import fence_scope

    t0 = _time.time()
    with fence_scope():
        st = dedup.substring_dedup_stats(corpus, n=8).cache()
        is_near = (
            (F.col("doc_id") >= 10_000_000)
            & (F.pmod(F.floor(F.col("doc_id") / 10_000_000), F.lit(2)) == 0)
        )
        bad_exact = (
            ~is_near
            & ((F.col("dup_tokens") != F.col("n_tokens"))
               | (F.col("n_spans") != 1))
        )
        bad_near = is_near & (
            (F.col("n_spans") != 1)
            | (F.col("dup_tokens") > F.col("n_tokens"))
            | (F.col("dup_tokens") < F.col("n_tokens") - 3)
        )
        agg = st.agg(
            F.count("*").alias("rows"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("dup_tokens").alias("dup_tokens"),
            F.sum("n_spans").alias("spans"),
            F.sum(bad_exact.cast("int")).alias("bad_exact"),
            F.sum(bad_near.cast("int")).alias("bad_near"),
        ).head()
        st.unpersist()
    wall = _time.time() - t0
    ok = (
        agg["rows"] == n_docs
        and (mult < 2 or (agg["bad_exact"] == 0 and agg["bad_near"] == 0))
    )
    print(
        json.dumps(
            {
                "query": "substring",
                "mult": mult,
                "docs": n_docs,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                "tokens_per_sec": round(agg["tokens"] / wall, 1),
                "tokens": agg["tokens"],
                "dup_tokens": agg["dup_tokens"],
                "spans": agg["spans"],
                "structure_ok": bool(ok),
                "peak_rss_mb": _peak_rss_mb(),
                "cores": cores,
                "sf_dir": sf_dir,
            }
        )
    )
    if not ok:
        raise SystemExit(
            f"substring structure check FAILED: {agg.asDict()}"
        )


def _run_retrieval(spark, corpus, n_docs, mult, cores, sf_dir) -> None:
    """BM25 (operators/retrieval.bm25_scores) at M x the sf corpus.
    Query = the 5 highest-df base-corpus terms (computed OUTSIDE the
    timed window) + 'mirror' (guaranteed present in every even-mirror
    suffix).  Invariants (the scale run is also a correctness run):

    - EXACT-copy mirrors (odd m) score IDENTICALLY to their base doc
      — same text means same tf/dl against the same corpus scalars
      (tolerance 1e-9 for per-doc float summation order);
    - every even mirror matches (contains 'mirror'), so scored docs
      >= the even-mirror count;
    - scores are finite and positive (non-negative idf variant)."""
    import time as _time

    from pyspark.sql import functions as F

    from pdfextract_spark.operators import retrieval
    from pdfextract_spark.operators.fence import fence_scope

    base = corpus.where(F.col("doc_id") < 10_000_000)
    with fence_scope():
        top = (
            retrieval.doc_terms(base)
            .groupBy("term")
            .agg(F.count("*").alias("df_t"))
            .orderBy(F.desc("df_t"), "term")
            .limit(5)
            .collect()
        )
    terms = [r["term"] for r in top] + ["mirror"]
    n_even = corpus.where(
        (F.col("doc_id") >= 10_000_000)
        & (F.pmod(F.floor(F.col("doc_id") / 10_000_000), F.lit(2)) == 0)
    ).count()

    t0 = _time.time()
    with fence_scope():
        scores = retrieval.bm25_scores(corpus, terms).cache()
        agg = scores.agg(
            F.count("*").alias("scored"),
            F.sum(
                (
                    F.col("bm25").isNull()
                    | F.isnan("bm25")
                    | (F.col("bm25") <= 0)
                ).cast("int")
            ).alias("bad_score"),
        ).head()
        base_sc = scores.where(F.col("doc_id") < 10_000_000).select(
            F.col("doc_id").alias("base_id"), F.col("bm25").alias("base_bm25")
        )
        exact_sc = scores.where(
            (F.col("doc_id") >= 10_000_000)
            & (F.pmod(F.floor(F.col("doc_id") / 10_000_000), F.lit(2)) == 1)
        ).select(
            F.pmod("doc_id", F.lit(10_000_000)).alias("base_id"), "bm25"
        )
        mis = (
            exact_sc.join(base_sc, "base_id")
            .where(F.abs(F.col("bm25") - F.col("base_bm25")) > 1e-9)
            .count()
        )
        # the inner join above cannot see DROPPED rows (a mirror or
        # base doc missing from the scores output would just shrink
        # the join), so pin the counts too: an exact mirror matches
        # the query iff its base does (identical text), so exactly
        # mult//2 exact mirrors must be scored per scored base, and
        # every one must pair with its base
        n_base = base_sc.count()
        n_exact = exact_sc.count()
        n_paired = exact_sc.join(base_sc, "base_id").count()
        scores.unpersist()
    wall = _time.time() - t0
    ok = (
        agg["bad_score"] == 0
        and mis == 0
        and agg["scored"] >= n_even
        and n_base > 0
        and n_exact == n_base * (mult // 2)
        and n_paired == n_exact
    )
    print(
        json.dumps(
            {
                "query": "retrieval_bm25",
                "mult": mult,
                "docs": n_docs,
                "scored_docs": agg["scored"],
                "query_terms": terms,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                "exact_mirror_score_mismatches": mis,
                "structure_ok": bool(ok),
                "peak_rss_mb": _peak_rss_mb(),
                "cores": cores,
                "sf_dir": sf_dir,
            }
        )
    )
    if not ok:
        raise SystemExit(
            f"retrieval structure check FAILED: scored={agg['scored']} "
            f"bad={agg['bad_score']} mismatches={mis}"
        )


def _run_bloom(spark, n_items: int, cores: int) -> None:
    """Bloom build/merge/contains at ``n_items`` (default 10^7)
    DISTINCT items, m = 1<<27 bits / k = 4 (design fp ~0.5%).

    Built as TWO half-filters merged with ``bloom_merge`` (exercising
    the linear-merge contract at scale), then probed with ALL inserted
    items plus ``n_items/10`` disjoint non-items in one pass.
    Invariants: false-NEGATIVE count must be EXACTLY 0 (the bloom
    contract — any miss on an inserted item fails the run), and the
    measured false-positive rate on the non-items must stay within
    3x the design rate."""
    import math
    import time as _time

    from pyspark.sql import functions as F

    from pdfextract_spark.operators import sketch

    n_bits = 1 << 27
    n_hashes = 4
    items = spark.range(n_items).select(
        F.concat(F.lit("item:"), F.col("id").cast("string")).alias("v")
    )
    non_items = spark.range(n_items // 10).select(
        F.concat(F.lit("absent:"), F.col("id").cast("string")).alias("v")
    )

    t0 = _time.time()
    half_a = sketch.bloom_build(
        items.where(F.col("v").substr(6, 99).cast("bigint") % 2 == 0),
        "v", n_bits=n_bits, n_hashes=n_hashes,
    )
    half_b = sketch.bloom_build(
        items.where(F.col("v").substr(6, 99).cast("bigint") % 2 == 1),
        "v", n_bits=n_bits, n_hashes=n_hashes,
    )
    merged = sketch.bloom_merge(half_a, half_b).cache()
    set_bits = merged.count()
    build_wall = _time.time() - t0

    t0 = _time.time()
    # bloom_contains keeps only the key column, so membership is
    # recovered from the value prefix after the probe
    probes = items.unionByName(non_items)
    res = sketch.bloom_contains(
        merged, probes, "v", n_bits=n_bits, n_hashes=n_hashes
    ).withColumn("_in", F.col("v").startswith("item:"))
    agg = res.agg(
        F.sum((F.col("_in") & ~F.col("may_contain")).cast("int")).alias(
            "false_neg"
        ),
        F.sum((~F.col("_in") & F.col("may_contain")).cast("int")).alias(
            "false_pos"
        ),
        F.sum(F.col("_in").cast("int")).alias("n_in"),
        F.sum((~F.col("_in")).cast("int")).alias("n_out"),
    ).head()
    probe_wall = _time.time() - t0
    merged.unpersist()

    design_fp = (1 - math.exp(-n_hashes * n_items / n_bits)) ** n_hashes
    fp_rate = agg["false_pos"] / max(agg["n_out"], 1)
    ok = (
        agg["false_neg"] == 0
        and agg["n_in"] == n_items
        and fp_rate <= 3 * design_fp
    )
    print(
        json.dumps(
            {
                "query": "bloom",
                "items": n_items,
                "n_bits": n_bits,
                "n_hashes": n_hashes,
                "set_bits": set_bits,
                "build_wall_sec": round(build_wall, 2),
                "build_items_per_sec": round(n_items / build_wall, 1),
                "probe_wall_sec": round(probe_wall, 2),
                "probe_items_per_sec": round(
                    (agg["n_in"] + agg["n_out"]) / probe_wall, 1
                ),
                "false_negatives": agg["false_neg"],
                "false_positive_rate": round(fp_rate, 6),
                "design_fp_rate": round(design_fp, 6),
                "structure_ok": bool(ok),
                "peak_rss_mb": _peak_rss_mb(),
                "cores": cores,
            }
        )
    )
    if not ok:
        raise SystemExit(
            f"bloom invariant FAILED: false_neg={agg['false_neg']} "
            f"fp_rate={fp_rate:.6f} (design {design_fp:.6f})"
        )


def main() -> None:
    query = sys.argv[1] if len(sys.argv) > 1 else "near_dup"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"dedup-scale-{query}-{mult}x")
        .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pdfextract_spark.operators import dedup
    from pdfextract_spark.operators.fence import fence_scope

    if query == "bloom":
        # mult doubles as the item count in millions (default 8 -> use
        # 10 for the canonical 10^7 run)
        _run_bloom(spark, mult * 1_000_000, cores)
        return

    corpus = build_corpus(spark, sf_dir, mult).cache()
    n_docs = corpus.count()  # materialize input outside the timed window

    if query == "substring":
        _run_substring(spark, corpus, n_docs, mult, cores, sf_dir)
        return

    if query == "retrieval":
        _run_retrieval(spark, corpus, n_docs, mult, cores, sf_dir)
        return

    n_base = corpus.where(F.col("doc_id") < 10_000_000).count()

    stats: dict = {}
    attach_rate = None
    t0 = time.time()
    with fence_scope():
        if query == "near_dup":
            out = dedup.near_dup_dedup(
                corpus,
                jaccard_threshold=0.5,
                num_hashes=16,
                band_size=4,
                k=3,
                stats=stats,
            ).cache()
        elif query == "clusters":
            cand = dedup.lsh_candidate_pairs(
                corpus, num_hashes=16, band_size=4, k=3
            )
            edges = dedup.jaccard_pairs(corpus, cand, k=3).where(
                F.col("jaccard") >= 0.5
            )
            comp = dedup.connected_components(edges, stats=stats)
            # pairwise path emits only docs with >= 1 verified edge;
            # normalize to the near-dup output shape (absent docs keep
            # themselves) so both flavors share the checks below
            out = (
                corpus.select("doc_id")
                .join(comp, corpus["doc_id"] == comp["node"], "left")
                .select(
                    "doc_id",
                    F.coalesce("comp", F.col("doc_id")).alias("cluster"),
                    (
                        F.coalesce("comp", F.col("doc_id"))
                        == F.col("doc_id")
                    ).alias("is_canonical"),
                )
                .cache()
            )
        else:
            raise SystemExit(f"unknown query {query!r}")

        agg = out.groupBy("cluster").agg(
            F.count("*").alias("size"),
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
        )
        res = agg.agg(
            F.count("*").alias("clusters"),
            F.sum("size").alias("sum_size"),
            F.sum((F.col("n_canon") != 1).cast("int")).alias("bad_canon"),
        ).head()
        n_clusters = res["clusters"]

        # deterministic invariant: every EXACT copy (odd mirror) shares
        # its base's cluster
        base_cl = out.where(F.col("doc_id") < 10_000_000).select(
            F.col("doc_id").alias("base_id"),
            F.col("cluster").alias("base_cluster"),
        )
        mirrors = out.where(F.col("doc_id") >= 10_000_000).select(
            "doc_id",
            "cluster",
            F.pmod("doc_id", F.lit(10_000_000)).alias("base_id"),
            (F.pmod(F.floor(F.col("doc_id") / 10_000_000), F.lit(2)) == 1)
            .alias("is_exact"),
        )
        mj = mirrors.join(base_cl, "base_id").select(
            "is_exact", (F.col("cluster") == F.col("base_cluster")).alias("att")
        )
        mres = mj.groupBy("is_exact").agg(
            F.count("*").alias("n"),
            F.sum(F.col("att").cast("int")).alias("n_att"),
        ).collect()
        exact_ok = all(
            r["n_att"] == r["n"] for r in mres if r["is_exact"]
        )
        near_rows = [r for r in mres if not r["is_exact"]]
        attach_rate = (
            round(
                sum(r["n_att"] for r in near_rows)
                / max(sum(r["n"] for r in near_rows), 1),
                4,
            )
            if near_rows
            else 1.0
        )
        ok = (
            n_clusters <= n_docs
            and res["sum_size"] == n_docs
            and res["bad_canon"] == 0
            and exact_ok
            and attach_rate >= 0.98
        )
        out.unpersist()
    wall = time.time() - t0

    rss_mb = _peak_rss_mb()
    print(
        json.dumps(
            {
                "query": query,
                "mult": mult,
                "docs": n_docs,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                "clusters": n_clusters,
                "near_attach_rate": attach_rate,
                "structure_ok": bool(ok),
                "cc_rounds": stats.get("rounds"),
                "peak_rss_mb": rss_mb,
                "cores": cores,
                "sf_dir": sf_dir,
            }
        )
    )
    if not ok:
        raise SystemExit(
            f"cluster structure check FAILED: {res.asDict() if res else None}"
        )


if __name__ == "__main__":
    main()
