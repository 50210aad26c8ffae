"""Deduplication operators for training-data pipelines.

Beyond the reference's own inventory (per the build brief): exact,
MinHash+LSH, SimHash, and n-gram Jaccard dedup over a document table.
Everything is Catalyst expressions (md5-derived hashing so a SQL
oracle can reproduce values bit-for-bit); the LSH band join is an
equi-join on (band, band_hash) — shuffle scales with candidate pairs,
not n^2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fence import fence, release_fence


def normalize_text(col: Column) -> Column:
    """Canonical text for hashing: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def text_hash(col: Column) -> Column:
    """THE dedup key: md5 of the normalized text.  Shared by batch
    ``exact_dedup`` and ``streaming.streaming_dedup_exact`` so the
    ingest-side and corpus-side passes can never diverge."""
    return F.md5(normalize_text(col))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per distinct normalized
    text, keeping the minimum id (deterministic canonical winner) and
    the duplicate count.  Single shuffle on the text hash."""
    h = text_hash(F.col(text_col)).alias("text_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) from normalized text.

    transform over a 0..n-k index sequence keeps it JVM-side."""
    words = F.split(normalize_text(col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array()).otherwise(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.slice(words, i + 1, k)
            ),
        )
    )


CHUNKS_PER_MD5 = 4  # md5's 32 hex chars -> 4 independent 8-hex values


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
) -> DataFrame:
    """LSH banding: one row per (doc, band) with the band hash.
    Candidate pairs = equi-join on (band, band_hash).

    Physical shape chosen for scale: explode shingles once, compute
    every seed's md5 exactly once per shingle, then map-side partial
    ``min`` aggregation collapses to one row per doc per partition
    before the single shuffle.  (The naive nested-expression form
    recomputes the shingle array once per seed — 16x the hashing — and
    defeats whole-stage codegen with a giant expression tree.)

    MinHash function s is 8 hex chars (32 bits) of
    md5(shingle || '#' || s // 4): four functions share one md5 via
    non-overlapping substrings (md5 output bits are independent).
    Fixed-width lowercase hex compares lexicographically ==
    numerically, so the string min IS the numeric MinHash, and any
    md5-equipped engine (the DuckDB oracle) reproduces it verbatim."""
    if band_size <= 0 or num_hashes % band_size != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be a positive multiple of "
            f"band_size={band_size}: a remainder silently wastes "
            f"hashes (changing recall vs the configured signature) "
            f"and band_size > num_hashes would emit ZERO bands — no "
            f"candidate pairs at all, with no error"
        )
    n_bands = num_hashes // band_size
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("sh")
    )
    # project each salt's md5 ONCE before the aggregation: Catalyst
    # does not common-subexpression-eliminate the md5 across the
    # num_hashes min() aggregates, so aggregating each function's md5
    # substring directly recomputes every md5 CHUNKS_PER_MD5 times
    # (~25% slower measured)
    n_salts = (num_hashes + CHUNKS_PER_MD5 - 1) // CHUNKS_PER_MD5
    pre = sh.select(
        id_col,
        *[
            F.md5(F.concat(F.col("sh"), F.lit(f"#{salt}"))).alias(f"_h{salt}")
            for salt in range(n_salts)
        ],
    )
    mins = pre.groupBy(id_col).agg(
        *[
            F.min(
                F.substring(
                    F.col(f"_h{s // CHUNKS_PER_MD5}"),
                    (s % CHUNKS_PER_MD5) * 8 + 1,
                    8,
                )
            ).alias(f"mh{s}")
            for s in range(num_hashes)
        ]
    )
    bands = mins.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{b * band_size + i}")
                                    for i in range(band_size)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_hash")
    return bands


def _oversized_buckets(
    sizes: DataFrame, max_bucket_size: int
) -> tuple[DataFrame, DataFrame]:
    """(band, band_hash, _bsz) bucket sizes -> (the buckets holding
    more than ``max_bucket_size`` docs, a one-row (n, mx, avoided)
    summary of them).  ``avoided`` sums each bucket's B*(B-1)/2 pairs
    in bigint arithmetic, exact where a double is not (past ~1e8 docs
    per bucket).  It is an upper bound on the pairs the cap removes:
    a pair in a dropped bucket can still be generated through another
    band, and is then counted here but not avoided."""
    over = sizes.where(F.col("_bsz") > max_bucket_size)
    summary = over.agg(
        F.count("*").alias("n"),
        F.max("_bsz").alias("mx"),
        F.sum(F.expr("_bsz * (_bsz - 1) DIV 2")).alias("avoided"),
    )
    return over, summary


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    stats: dict | None = None,
    **kw,
) -> DataFrame:
    """Near-dup candidate pairs from MinHash LSH bands (distinct
    (a, b) with a < b sharing at least one band bucket).

    WARNING — pairwise-per-bucket bound: a bucket holding B docs emits
    B^2/2 pairs, so mega-buckets (boilerplate corpora) explode here;
    use ``lsh_star_edges``/``lsh_dedup_clusters`` for LSH-connectivity
    dedup, or ``near_dup_dedup`` (which collapses exact duplicates
    first) for the Jaccard-verified flavor.

    ``max_bucket_size`` bounds that blow-up explicitly: buckets
    holding more than this many docs are EXCLUDED from the pairwise
    join, a ``UserWarning`` reports how many buckets were dropped
    (with the largest size and the pair count avoided), and the same
    numbers land in ``stats`` under ``lsh_oversized_buckets`` /
    ``lsh_max_bucket_size_seen`` / ``lsh_pairs_avoided`` (an upper
    bound, see ``_oversized_buckets``).  Docs in a dropped bucket can
    still pair through their OTHER bands, so this
    trades bounded recall loss on pathological buckets for a hard
    O(max_bucket_size^2)-per-bucket work bound — the knob a 100-TB
    run sets after ``lsh_star_edges``'s ``bucket_size`` diagnostic
    shows a distinct-text mega-bucket.  Checking the cap costs one
    bounded driver action over the (band, bucket) aggregate (it must
    be eager to warn loudly); ``None`` (default) keeps the exact
    uncapped semantics with zero extra work.

    The band table is materialized once behind a checkpoint fence:
    the self-join otherwise re-evaluates the whole shingle->md5->min
    pipeline on both sides (CollapseProject inlining — 1.4 s vs 0.24 s
    measured at sf0.1).  Batch-only as a result; release the fence
    storage with ``fence.fence_scope()`` / ``release_fence`` after
    consuming the result."""
    bands = fence(minhash_bands(df, text_col, id_col, **kw))
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "band_hash").agg(
            F.count("*").alias("_bsz")
        )
        over, summary = _oversized_buckets(sizes, max_bucket_size)
        row = summary.collect()[0]
        if stats is not None:
            stats["lsh_oversized_buckets"] = int(row["n"])
            stats["lsh_max_bucket_size_seen"] = (
                int(row["mx"]) if row["mx"] is not None else 0
            )
            stats["lsh_pairs_avoided"] = (
                int(row["avoided"]) if row["avoided"] is not None else 0
            )
        if row["n"]:
            import warnings

            warnings.warn(
                f"lsh_candidate_pairs: {row['n']} band bucket(s) exceed "
                f"max_bucket_size={max_bucket_size} (largest holds "
                f"{row['mx']} docs) and were excluded from pairwise "
                f"candidate generation, avoiding {row['avoided']} "
                f"verify pairs; affected docs can still pair via other "
                f"bands.  Inspect lsh_star_edges(...)'s bucket_size to "
                f"understand the distribution.",
                UserWarning,
                stacklevel=2,
            )
            # the collected count says whether the oversized-key set
            # fits a broadcast (it almost always does — each key holds
            # > max_bucket_size docs, so there can't be many); fall
            # back to a shuffle anti-join past ~10^6 keys
            keys = over.select("band", "band_hash")
            if int(row["n"]) <= 1_000_000:
                keys = F.broadcast(keys)
            bands = bands.join(keys, ["band", "band_hash"], "left_anti")
    l = bands.alias("l")
    r = bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )


def lsh_star_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kw,
) -> DataFrame:
    """Mega-bucket-safe LSH output: per (band, band_hash) bucket emit
    STAR edges (bucket_min_doc -> doc) instead of all pairs.

    A bucket holding B copies of a boilerplate document emits B-1
    edges here versus B^2/2 pairs from ``lsh_candidate_pairs`` — at
    web scale B can be 10^6+, so the pairwise form is a 10^12-row
    task while this stays linear.  Stars preserve exactly the
    connectivity LSH asserts, so feeding them to
    ``connected_components`` recovers the same duplicate clusters as
    the pairwise form would.  Physical shape: map-side-combinable
    (min, count) agg per bucket, then one equi-join back on the
    bucket key — no window over the bucket, so a mega-bucket
    partial-aggregates instead of hot-spotting one task.
    Returns (a, b, bucket_size) with a = the bucket's min doc, a < b;
    ``bucket_size`` surfaces the mega-buckets a capped pairwise run
    would silently explode on.  The band table is materialized once
    behind a checkpoint fence — the hub aggregation and the join
    back both reference it (same CollapseProject re-evaluation trap as
    lsh_candidate_pairs; same lifetime story — see operators/fence.py)."""
    bands = fence(minhash_bands(df, text_col, id_col, **kw))
    hubs = bands.groupBy("band", "band_hash").agg(
        F.min(id_col).alias("_hub"), F.count("*").alias("bucket_size")
    )
    return (
        bands.join(hubs, ["band", "band_hash"])
        .where(F.col(id_col) > F.col("_hub"))
        .groupBy(F.col("_hub").alias("a"), F.col(id_col).alias("b"))
        .agg(F.max("bucket_size").alias("bucket_size"))
    )


def lsh_dedup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_iter: int = 20,
    **kw,
) -> DataFrame:
    """End-to-end scalable LSH dedup: star edges (linear in bucket
    size) -> connected components -> (doc, cluster) with the cluster
    label = min doc id in the component.  Docs sharing no bucket with
    anyone are absent (singletons keep themselves by definition)."""
    edges = lsh_star_edges(df, text_col, id_col, **kw).select("a", "b")
    return connected_components(edges, "a", "b", max_iter=max_iter).select(
        F.col("node").alias(id_col), F.col("comp").alias("cluster")
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact k-shingle Jaccard for candidate pairs (verify stage after
    LSH).  Joins are broadcast-eligible when the candidate set is
    small; array_intersect/array_union stay JVM-side.  The shingle
    table is materialized once (checkpoint fence) — it is joined
    as both sides, and CollapseProject would otherwise re-shingle the
    corpus twice (lifetime story: operators/fence.py)."""
    sh = fence(
        df.select(
            F.col(id_col),
            F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
        )
    )
    a = sh.withColumnRenamed(id_col, "a").withColumnRenamed("sh", "sh_a")
    b = sh.withColumnRenamed(id_col, "b").withColumnRenamed("sh", "sh_b")
    joined = pairs.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "a",
        "b",
        F.when(union == 0, F.lit(0.0)).otherwise(inter / union).alias("jaccard"),
    )


# Token bit j reads nibble (j % 32) of ONE md5 per token: bits 0-31
# test the nibble's high bit (value 8), bits 32-63 its second bit
# (value 4) — md5 bits are independent, so one hash serves 64
# fingerprint bits at half the hashing cost of a second salted md5.
# Expressed as nibble IN (set) so any md5-equipped engine (the DuckDB
# oracle) states the identical predicate.
_NIBBLE_SETS = (
    ("8", "9", "a", "b", "c", "d", "e", "f"),  # bit value 8 (j // 32 == 0)
    ("4", "5", "6", "7", "c", "d", "e", "f"),  # bit value 4 (j // 32 == 1)
)


def simhash_table_wide(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    chunk_bits: int = 16,
) -> DataFrame:
    """Production-width SimHash: (id, fp0..fpN) where fpC holds bits
    [C*chunk_bits, (C+1)*chunk_bits) of a ``bits``-wide fingerprint.

    16-bit fingerprints collide by birthday at ~300 docs; 64 bits is
    the production width (Manku et al., WWW'07).  Emitting the bits as
    chunked bigint columns (a) keeps each codegen'd projection bounded
    and (b) IS the Hamming-join blocking key: any pair within Hamming
    distance d differs in at most d chunks, so with d < n_chunks at
    least one chunk matches exactly (pigeonhole) —
    ``simhash_hamming_pairs`` unions one equi-join per chunk for full
    recall at distance <= 3.
    The token-hex array is projected once; each chunk's per-bit
    aggregates read their own nibble range.

    NULL-text documents are EXCLUDED (explicitly, with this
    documented contract): a NULL text has no token stream to
    fingerprint, and the previous silent behavior — NULL fp chunks
    that the Hamming equi-join then dropped — hid those rows without
    any signal.  Route NULL texts through the exact-dedup operators
    (which group them deliberately) instead."""
    if bits > 64:
        # one md5 per token: 32 nibbles x 2 tested bits each
        raise ValueError(f"simhash supports at most 64 bits, got {bits}")
    if bits % chunk_bits:
        raise ValueError(f"bits={bits} not divisible by chunk_bits={chunk_bits}")
    df = df.where(F.col(text_col).isNotNull())
    tokens = F.split(normalize_text(F.col(text_col)), " ")
    hx = df.select(
        F.col(id_col),
        F.transform(tokens, F.md5).alias("_hexes"),
    )
    # ONE pass over the token array builds all ``bits`` signed counts at
    # once (zip_with accumulator), instead of ``bits`` separate
    # aggregates each re-traversing the array — ~25% faster measured at
    # sf0.1 on top of the single-md5 win, bit-identical values.
    hi_set, lo_set = (
        "(" + ",".join(f"'{c}'" for c in s) + ")" for s in _NIBBLE_SETS
    )
    counts = hx.select(
        id_col,
        F.expr(
            f"""
            aggregate(_hexes, array_repeat(0, {bits}),
              (acc, h) -> zip_with(acc,
                 transform(sequence(0, {bits - 1}),
                           j -> CASE WHEN (CASE WHEN j < 32
                                           THEN substring(h, j + 1, 1) IN {hi_set}
                                           ELSE substring(h, j - 31, 1) IN {lo_set}
                                           END)
                                THEN 1 ELSE -1 END),
                 (a, b) -> a + b))
            """
        ).alias("_counts"),
    )
    return counts.select(
        id_col,
        *[
            F.expr(
                f"aggregate(zip_with(slice(_counts, {c * chunk_bits + 1}, "
                f"{chunk_bits}), sequence(0, {chunk_bits - 1}), "
                f"(cnt, j) -> IF(cnt > 0, shiftleft(1L, cast(j AS INT)), 0L)), "
                f"0L, (a, b) -> a + b)"
            ).alias(f"fp{c}")
            for c in range(bits // chunk_bits)
        ],
    )


def simhash_hamming_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs (a, b, hamming) from a chunked fingerprint table
    (the output of ``simhash_table_wide``): one equi-join per chunk on
    (chunk_idx, chunk_value), unioned via a 2-cell explode, then exact
    Hamming verify over EVERY ``fp<c>`` column of ``fp`` (the chunk
    count is read from the table, so no chunk can be left out of the
    distance).  Pigeonhole guarantees FULL recall whenever
    ``max_hamming < n_chunks`` (<= 3 differing bits across 4 chunks
    leave >= 1 chunk identical).  Every join is a hash join; shuffle
    is n_chunks x n rows, never n^2.

    The fingerprint input is materialized ONCE behind a checkpoint
    fence before the self-join: without the fence Catalyst's
    CollapseProject inlines the fingerprint expressions into every
    chunk reference on both join sides (~16 re-evaluations of the
    whole bit pipeline — measured 13 s vs 0.9 s at sf0.1).  Batch-only
    operator as a result (lifetime story: operators/fence.py)."""
    n_chunks = sum(c.startswith("fp") and c[2:].isdigit() for c in fp.columns)
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming={max_hamming} needs more fp<c> chunk columns "
            f"than max_hamming for pigeonhole recall (got {n_chunks})"
        )
    chunks = [f"fp{c}" for c in range(n_chunks)]
    fp = fence(fp)
    keyed = fp.select(
        F.col(id_col),
        *chunks,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("ck"), F.col(f"fp{c}").alias("cv")
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("_kc"),
    ).select(id_col, *chunks, "_kc.ck", "_kc.cv")
    a = keyed.select(
        F.col(id_col).alias("a"),
        *[F.col(c).alias(f"a_{c}") for c in chunks],
        "ck",
        "cv",
    )
    b = keyed.select(
        F.col(id_col).alias("b"),
        *[F.col(c).alias(f"b_{c}") for c in chunks],
        "ck",
        "cv",
    )
    ham = sum(
        F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}")))
        for c in chunks
    ).cast("bigint")
    return (
        a.join(b, ["ck", "cv"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- cross-corpus paragraph-level exact dedup (C4/RefinedWeb-style) ------

def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_paras_per_doc: int = 100_000,
) -> DataFrame:
    """One row per non-empty paragraph with its canonical owner: the
    corpus-wide first occurrence — (min doc, then min position) — of
    the normalized paragraph text wins; later copies are duplicates.

    Scale shape: explode -> md5 in the same projection -> ONE shuffle
    on the hash with a map-side-combinable min/count (no window over
    the hash groups, so a boilerplate paragraph repeated 10^9 times
    partial-aggregates instead of hot-spotting a task).  The owner key
    packs (doc, idx) into one bigint, which requires a NUMERIC
    non-negative ``id_col`` (validated) and fewer than
    ``max_paras_per_doc`` paragraphs per document (enforced with a
    loud per-row error, never silent corruption — raise the cap for
    pathological documents).
    """
    id_type = dict(df.dtypes).get(id_col, "")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"paragraph_dedup needs an integer {id_col!r} for owner-key "
            f"packing, got {id_type or 'missing column'}; add a surrogate "
            f"id (e.g. monotonically_increasing_id) for string-keyed corpora"
        )
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(
                # (?:\r?\n){2,}: a CRLF document's blank line is
                # \r\n\r\n — \n{2,} never matches it (a \r sits
                # between the newlines), silently treating the whole
                # doc as ONE paragraph and no-opping the dedup
                F.split(F.col(text_col), r"(?:\r?\n){2,}")
            ).alias("_idx0", "_para"),
        )
        .select(
            F.col(id_col),
            (F.col("_idx0") + 1).alias("para_idx"),
            F.col("_para").alias("para"),
            normalize_text(F.col("_para")).alias("_norm"),
        )
        .where(F.col("_norm") != "")
        .withColumn("para_hash", F.md5("_norm"))
        .withColumn(
            "_key",
            F.when(
                (F.col("para_idx") < max_paras_per_doc)
                & (F.col(id_col) >= 0)
                # the multiplication itself must not overflow bigint
                & (
                    F.col(id_col)
                    <= (2**63 - 1 - max_paras_per_doc) // max_paras_per_doc
                ),
                F.col(id_col) * max_paras_per_doc + F.col("para_idx"),
            ).otherwise(
                F.raise_error(
                    F.format_string(
                        "paragraph_dedup owner-key overflow: doc %s "
                        "para %s exceeds max_paras_per_doc=%s or has a "
                        "negative id",
                        F.col(id_col).cast("string"),
                        F.col("para_idx").cast("string"),
                        F.lit(str(max_paras_per_doc)),
                    )
                ).cast("bigint")
            ),
        )
    )
    # paras feeds BOTH the owners aggregation and the join back —
    # materialize the explode+md5 once (same CollapseProject
    # re-evaluation trap as the LSH band table; ~40% at sf0.1)
    paras = fence(paras)
    owners = paras.groupBy("para_hash").agg(
        F.min("_key").alias("_keep_key"),
        F.count("*").alias("dup_count"),
    )
    return paras.join(owners, "para_hash").select(
        id_col,
        "para_idx",
        "para",
        "para_hash",
        (F.col("_key") == F.col("_keep_key")).alias("is_canonical"),
        "dup_count",
    )


def strip_duplicate_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_paras_per_doc: int = 100_000,
) -> DataFrame:
    """Documents with corpus-duplicate paragraphs removed: keeps only
    each paragraph's canonical occurrence and reassembles the document
    (original paragraph text, original order, blank-line separators).
    Documents whose every paragraph was a later duplicate drop out."""
    kept = paragraph_dedup(df, text_col, id_col, max_paras_per_doc).where(
        "is_canonical"
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("para_idx", "para"))
    )
    return kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            "\n\n", F.transform(ordered, lambda s: s["para"])
        ).alias("clean_text"),
    )


def _gram_hashes(col: Column, n: int) -> Column:
    """array<string>: md5 hex of each n-token window of the normalized
    text — ``word_shingles`` (the module's one windowing kernel) with
    md5 mapped over it, so the 0-based posexplode positions line up
    with token indices; the 128-bit md5 keeps the corpus-wide group
    key collision-free at 10^12-gram scale (a 48-bit truncation would
    birthday-collide long before that) and is reproducible in any SQL
    engine with md5.  NULL text coalesces to '' (zero grams)."""
    return F.transform(
        word_shingles(F.coalesce(col, F.lit("")), n), F.md5
    )


def _dup_grams(
    seeds: DataFrame, id_col: str, min_count: int, min_docs: int
) -> DataFrame:
    """The corpus-wide duplicated-gram set (one ``_gh`` column) from a
    (id, _pos, _gh) seed table.  NULL ``_gh`` rows (the
    ``posexplode_outer`` sentinel for zero-gram documents) are
    excluded BEFORE grouping — two empty documents must not conspire
    into a NULL "gram" that passes ``min_count``."""
    grams = seeds.where(F.col("_gh").isNotNull())
    if min_docs > 1:
        per_doc = grams.groupBy("_gh", id_col).agg(F.count("*").alias("_c"))
        gram_stats = per_doc.groupBy("_gh").agg(
            F.sum("_c").alias("_n_occ"), F.count("*").alias("_n_docs")
        )
        return gram_stats.where(
            (F.col("_n_occ") >= min_count) & (F.col("_n_docs") >= min_docs)
        ).select("_gh")
    # min_docs <= 1 never constrains (every gram is in >= 1 doc),
    # so the per-(gram, doc) layer would be pure shuffle overhead
    # — one map-side-combinable count on the gram hash suffices
    # (a typical corpus has few within-doc repeats, so that layer
    # barely shrinks the data anyway)
    return (
        grams.groupBy("_gh")
        .agg(F.count("*").alias("_n_occ"))
        .where(F.col("_n_occ") >= min_count)
        .select("_gh")
    )


def substring_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    min_count: int = 2,
    min_docs: int = 1,
) -> DataFrame:
    """Exact substring (duplicated n-gram span) dedup, the
    suffix-array dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better") re-expressed relationally:
    every token position whose n-gram occurs >= ``min_count`` times in
    the corpus (across >= ``min_docs`` distinct documents) is a
    duplicated seed; overlapping/adjacent seed windows merge into
    maximal half-open token spans ``[span_lo, span_hi)`` per document
    (plus ``n_seeds``, the seed count the span absorbed).

    The token domain is the NORMALIZED text (lowercase, collapsed
    whitespace) — the same canonical form every other dedup operator
    here hashes.

    Scale shape: the token-position fan-out is inherent to
    position-level dedup (a suffix array is O(tokens) too), but
    nothing here is quadratic: the corpus-wide seed count is ONE
    map-side-combinable shuffle on the uniform 128-bit gram hash (a
    boilerplate gram repeated 10^9 times partial-aggregates instead
    of hot-spotting a task); when ``min_docs > 1`` it splits into a
    (gram, doc) layer then a (gram) layer — same combine property at
    both levels; the duplicated-gram set joins back to the
    seed table as a BROADCAST hash join (it is bounded by the distinct
    duplicated-gram count, not the corpus; 1:1 per seed, no
    expansion).  NOTE: ``F.broadcast`` is an unconditional hint — it
    bypasses ``autoBroadcastJoinThreshold``, so the duplicated-gram
    VOCABULARY must fit executor memory (it stops fitting only at
    hundreds of millions of distinct duplicated grams).  The span
    merge is a per-document window bounded by document length.  The
    seed table feeds both the count and the join back, so it is
    checkpoint-fenced once (see operators/fence.py for the
    trade-off)."""
    from .intervals import merge_intervals

    seeds = fence(
        df.select(
            F.col(id_col),
            F.posexplode(_gram_hashes(F.col(text_col), n)).alias("_pos", "_gh"),
        )
    )
    dup = F.broadcast(_dup_grams(seeds, id_col, min_count, min_docs))
    hits = seeds.join(dup, "_gh").select(
        id_col,
        F.col("_pos").cast("bigint").alias("span_lo"),
        (F.col("_pos") + n).cast("bigint").alias("span_hi"),
    )
    return merge_intervals(
        hits, [id_col], "span_lo", "span_hi", count_col="n_seeds"
    )


def substring_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    min_count: int = 2,
    min_docs: int = 1,
) -> DataFrame:
    """Per-document duplicated-token accounting with
    ``substring_duplicate_spans`` semantics: (id, n_tokens,
    dup_tokens, n_spans, dup_ratio).  Every input document appears
    (zero-span docs report 0 / 0.0) — the row a corpus-curation
    dashboard filters on.

    FUSED plan (round-5 rewrite): the naive composition (spans window
    merge -> per-doc agg -> join back to the doc table) costs four
    post-fence jobs whose fixed plan/schedule overhead dominated the
    local benchmark.  Stats never needs the span ROWS, only per-doc
    coverage + island count, so this path:

    - carries ``n_tokens`` inside the seed table and uses
      ``posexplode_outer`` so zero-gram documents keep a sentinel row
      — no join back to the doc table at all;
    - left-joins the (broadcast) duplicated-gram set as a
      marker instead of an inner join, so one groupBy(id) collects
      the sorted dup-seed positions per document;
    - folds the merge_intervals recurrence (new island iff
      ``lo > running_max``; adjacent merges) into ONE ``F.aggregate``
      over that sorted array — positions are strictly increasing so
      each seed [p, p+n) adds ``min(n, p+n-e)`` covered tokens and
      opens an island iff ``p > e`` where ``e`` is the previous
      coverage frontier.  Identical output to the window path (pinned
      by the unchanged driver oracle + unit test), but the whole
      query is the fence job + one combinable gram-count shuffle +
      one groupBy(id) shuffle.  The array is bounded by document
      length — same bound the window pass had."""
    norm = normalize_text(F.coalesce(F.col(text_col), F.lit("")))
    n_tokens = (
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .cast("bigint")
    )
    seeds = fence(
        df.select(
            F.col(id_col),
            n_tokens.alias("_nt"),
            F.posexplode_outer(_gram_hashes(F.col(text_col), n)).alias(
                "_pos", "_gh"
            ),
        )
    )
    dup = F.broadcast(
        _dup_grams(seeds, id_col, min_count, min_docs).withColumn(
            "_dup", F.lit(True)
        )
    )
    marked = seeds.join(dup, "_gh", "left")
    per_doc = marked.groupBy(id_col).agg(
        F.first("_nt").alias("n_tokens"),
        F.sort_array(
            F.collect_list(F.when(F.col("_dup"), F.col("_pos")))
        ).alias("_ps"),
    )
    big = F.lit(int(n)).cast("bigint")
    zero = F.lit(0).cast("bigint")
    init = F.struct(
        (-big - F.lit(1).cast("bigint")).alias("e"),
        zero.alias("cov"),
        zero.alias("sp"),
    )
    folded = F.aggregate(
        F.col("_ps"),
        init,
        lambda a, p: F.struct(
            (p.cast("bigint") + big).alias("e"),
            (
                a["cov"] + F.least(big, p.cast("bigint") + big - a["e"])
            ).alias("cov"),
            (
                a["sp"]
                + F.when(p.cast("bigint") > a["e"], F.lit(1))
                .otherwise(F.lit(0))
                .cast("bigint")
            ).alias("sp"),
        ),
    )
    stats = per_doc.select(F.col(id_col), F.col("n_tokens"), folded.alias("_st"))
    dup_tokens = F.col("_st.cov")
    return stats.select(
        id_col,
        "n_tokens",
        dup_tokens.alias("dup_tokens"),
        F.col("_st.sp").alias("n_spans"),
        F.round(
            F.when(
                F.col("n_tokens") > 0, dup_tokens / F.col("n_tokens")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_ratio"),
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 20,
    min_count: int = 2,
    min_docs: int = 1,
) -> DataFrame:
    """Documents with every duplicated span removed (the paper's
    "drop both copies" policy — no global canonical-occurrence pick,
    so the rewrite stays embarrassingly parallel per document after
    the span join).  Output text is the normalized token stream minus
    covered positions; ``clean_text`` is '' for fully-duplicated
    documents (every row is preserved — filtering is the caller's
    policy decision)."""
    spans = substring_duplicate_spans(
        df, text_col, id_col, n, min_count, min_docs
    )
    span_arrs = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_lo", "span_hi")).alias("_spans")
    )
    norm = normalize_text(F.coalesce(F.col(text_col), F.lit("")))
    tokens = F.when(norm == "", F.array()).otherwise(F.split(norm, " "))
    docs = df.select(F.col(id_col), tokens.alias("_toks"))
    joined = docs.join(span_arrs, id_col, "left")
    # covered-position test: spans per doc are few (merged, disjoint),
    # so the exists() scan is cheap relative to tokenization
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.col("_toks"),
            lambda t, i: ~F.exists(
                F.col("_spans"),
                lambda s: (i >= s["span_lo"]) & (i < s["span_hi"]),
            ),
        )
    )
    return joined.select(
        id_col,
        F.size(F.col("_toks")).cast("bigint").alias("n_tokens"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation WITH pointer jumping: each round a node's
    label becomes the minimum of (its own, its neighbors', and its
    label's label).  The label-of-label shortcut halves chain lengths
    every round, so convergence is O(log diameter) instead of
    O(diameter) — a 500-node path settles in ~10 rounds where plain
    propagation needs 500 (``max_iter=20`` therefore covers diameters
    up to ~2^20 before the loud non-convergence error fires).

    Correctness invariant: a node's label is always the id of some
    node in its own component (min-of-neighbors and label-of-label
    both stay inside the component), labels only decrease, and the
    fixpoint labels every node with its component's minimum id.

    This closes the gap between candidate PAIRS and production dedup:
    picking one representative per duplicate CLUSTER (min id = the
    component label) requires the transitive closure, not pairs.
    Returns (node, comp); pass a ``stats`` dict to receive
    ``{"rounds": n}`` (rounds run to the fixpoint — the scale-run
    observable, since wall time is rounds x bounded-shuffle cost).
    Each iteration is three bounded shuffles
    (neighbor propagate, pointer jump, re-minimize) on data sized by
    edges + nodes, run as ONE Spark job: the aggregate that counts the
    round's changed labels also materializes its lazy checkpoint fence
    (the first round's job materializes the symmetrized edges too).
    The Kiveris-et-al. alternating-star algorithm is the next
    refinement if even log-diameter rounds are too many.
    """
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionAll(
        edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    # checkpoint truncates the lineage the iterative loop would
    # otherwise grow without bound (each round re-plans the previous)
    sym = fence(sym)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("comp"))
    prev = None
    try:
        for i in range(max_iter):
            neigh_min = (
                sym.join(labels, sym["dst"] == labels["node"])
                .groupBy("src")
                .agg(F.min("comp").alias("neigh_comp"))
            )
            joined = labels.join(
                neigh_min, labels["node"] == neigh_min["src"], "left"
            )
            if i == 0:
                # round 1's jump is a guaranteed no-op (comp == node), so
                # the label-of-label join would shuffle for nothing
                cand = F.coalesce("neigh_comp", F.col("comp"))
            else:
                # pointer jump: look up the label OF the current label
                # (always a node in the same component, so least() below
                # stays safe)
                jump = labels.select(
                    F.col("node").alias("_jn"), F.col("comp").alias("_jc")
                )
                joined = joined.join(jump, labels["comp"] == F.col("_jn"), "left")
                cand = F.least(
                    F.coalesce("neigh_comp", F.col("comp")),
                    F.coalesce("_jc", F.col("comp")),
                )
            # the changed flag rides along in the SAME projection (a label
            # only ever decreases, so changed == some candidate beat it)
            new_labels = joined.select(
                "node",
                F.least(F.col("comp"), cand).alias("comp"),
                (cand < F.col("comp")).alias("_changed"),
            )
            ckpt = fence(new_labels)
            # one job both materializes the round's checkpoint and
            # counts its changed labels
            changed = ckpt.agg(F.count_if("_changed")).head()[0]
            # the superseded round's checkpoint is dead once labels moves
            # on — genuinely release its blocks instead of retaining
            # max_iter copies.  (DataFrame.unpersist() is a NO-OP for
            # localCheckpoint storage — it routes through the cache
            # manager, which never saw these blocks; fence/release_fence
            # free them through the Java RDD handle.  Verified: the former
            # unpersist() left every round's RDD in getPersistentRDDs.)
            if prev is not None:
                release_fence(prev)
            prev = ckpt
            labels = ckpt.drop("_changed")
            if stats is not None:
                stats["rounds"] = i + 1
            if changed == 0:
                # the returned labels depend only on this round's
                # checkpoint, which stays live for the caller (wrap the
                # call in fence_scope() to release it after consumption)
                return labels.select(F.col("node"), F.col("comp"))
        # the caller gets no frame back on this path, so the final
        # round's checkpoint would otherwise leak with no release handle
        if prev is not None:
            release_fence(prev)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(a component's diameter exceeds max_iter); raise max_iter — "
            f"returning partial labels would silently corrupt dedup"
        )
    finally:
        # the symmetrized edge table's blocks are dead weight once the
        # loop ends, whichever way it ends
        release_fence(sym)


def near_dup_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.8,
    max_iter: int = 20,
    stats: dict | None = None,
    max_bucket_size: int | None = None,
    **lsh_kw,
) -> DataFrame:
    """The full production near-dup pipeline as one operator:
    exact-duplicate collapse -> LSH candidate pairs over CANONICAL
    texts only -> exact shingle-Jaccard verify (>= threshold) ->
    connected components over the verified edges -> re-attach every
    exact-duplicate member to its canonical's cluster.  Returns one
    row per input doc: (id, cluster, is_canonical) with cluster = the
    minimum doc id of the merged cluster and exactly one canonical doc
    (the cluster-minimum itself) per cluster.

    Semantics: docs whose NORMALIZED texts are identical are the same
    cluster by definition (their shingle Jaccard is 1.0) — including
    docs too short to shingle at all, which a purely shingle-based
    pipeline would leave as singletons; mutually-distinct texts must
    additionally share an LSH bucket and pass the exact-Jaccard
    threshold.  NULL-text docs form one exact group of their own
    (like exact_dedup's groupBy, where NULL hashes group together)
    and never join a shingle-based cluster.

    Mega-bucket safety: the classic web-corpus failure mode — 10^6
    byte-identical boilerplate pages landing in one LSH band bucket
    and emitting 10^12 candidate pairs — cannot happen here, because
    identical normalized texts collapse to ONE canonical before LSH
    ever runs (identical text => identical MinHash signature, so the
    mega-bucket case IS the exact-dup case).  The collapse is a single
    map-side-combinable groupBy on the text hash plus linear
    hash-joins to attach members — never quadratic in group size.
    Honest residual bound: a band bucket holding B mutually-DISTINCT
    texts still emits B^2/2 verify pairs (star edges cannot replace
    the pairwise stage under Jaccard verification, since only
    hub-member pairs would be verified).  ``max_bucket_size`` closes
    that hole explicitly: oversized distinct-text buckets are excluded
    from candidate generation with a loud ``UserWarning`` and
    ``stats`` counters (``lsh_oversized_buckets`` /
    ``lsh_max_bucket_size_seen`` / ``lsh_pairs_avoided``) — a hard
    per-bucket work bound traded against recall on exactly those
    pathological buckets (members can still pair via their other
    bands).  Default ``None`` keeps exact semantics; run
    ``lsh_star_edges`` for its ``bucket_size`` diagnostic when the
    distribution is in doubt, then set the cap.

    Storage lifetime: the exact-group table (one narrow row per
    DISTINCT text — the deduped corpus, small exactly where this
    operator matters) is fenced here, and the sub-operators fence
    their self-joined intermediates (band + shingle tables) — wrap
    the call in ``fence.fence_scope()`` to release those blocks after
    consuming the result, the connected-components closure's per-round
    checkpoints included (iterative pointer jumping without
    truncation grows an exponential plan — there is no recomputable
    form)."""
    k = lsh_kw.get("k", 3)
    # NULL-safe group key: md5(NULL) is NULL, and a NULL key would
    # survive the groupBy but never match the equi-join below — the
    # NULL-text docs would silently vanish from the output.  "null" is
    # not a 32-hex md5, so the sentinel cannot collide; all NULL-text
    # docs form one exact group (mirroring exact_dedup's groupBy-NULL
    # semantics) whose canonical carries NULL text and therefore
    # shingles to nothing — a singleton cluster.
    withh = df.select(
        F.col(id_col),
        F.col(text_col),
        F.coalesce(text_hash(F.col(text_col)), F.lit("null")).alias("_th"),
    )
    # one aggregation carries BOTH the canonical id and its text
    # (min_by: deterministic, ids are unique), so the corpus is
    # scanned twice total (groups, members) instead of four times —
    # and the fence stops the groups scan+shuffle from re-running for
    # its two consumers (the CollapseProject re-evaluation trap).
    groups = withh.groupBy("_th").agg(
        F.min(id_col).alias("_keep"),
        F.min_by(text_col, id_col).alias("_ktext"),
    )
    groups = fence(groups)
    # (doc, canonical-of-its-exact-group); the join key is the 32-hex
    # text hash with ONE build row per key, so even a 10^6-member
    # exact group is a streaming probe, not an explosion
    members = withh.select(F.col(id_col), "_th").join(
        groups.select("_th", "_keep"), "_th"
    )
    canon = groups.select(
        F.col("_keep").alias(id_col), F.col("_ktext").alias(text_col)
    )
    pairs = lsh_candidate_pairs(
        canon,
        text_col,
        id_col,
        max_bucket_size=max_bucket_size,
        stats=stats,
        **lsh_kw,
    )
    verified = jaccard_pairs(canon, pairs, text_col, id_col, k=k).where(F.col("jaccard") >= jaccard_threshold)
    comp = connected_components(
        verified, "a", "b", max_iter=max_iter, stats=stats
    ).select(F.col("node").alias("_keep"), F.col("comp").alias("_comp"))
    # canonicals with no verified edge keep themselves; members inherit
    # their canonical's cluster.  The component label is the min of the
    # participating canonical ids, and each canonical is the min of its
    # exact group — so the label IS the global min doc id of the merged
    # cluster, and doc == label picks exactly one canonical per cluster.
    return members.join(comp, "_keep", "left").select(
        F.col(id_col),
        F.coalesce("_comp", F.col("_keep")).alias("cluster"),
        (F.coalesce("_comp", F.col("_keep")) == F.col(id_col)).alias(
            "is_canonical"
        ),
    )
