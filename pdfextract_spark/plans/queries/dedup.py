"""Document-level dedup: exact, MinHash/LSH, SimHash, n-gram Jaccard,
embedding cosine, and the duplicate-cluster compositions.  Each oracle
stage shared by several queries (MinHash bands, verified Jaccard
edges, connected-component closure) is written once below as a named
SQL fragment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...operators import dedup
from ...operators.fence import fence
from ...sources.tables import load_table
from ..driver_queries import _NORM_SQL, _spread, q


@q(
    "dedup_exact",
    f"""
    SELECT md5({_NORM_SQL}) AS text_hash,
           min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized text, canonical winner =
    min id.  The md5 projection runs in the scan stage (no pre-spread),
    so the single shuffle moves only (doc_id, 32-char hash) — at 100 TB
    that shuffle is ~1-2% of spreading full text first, and the groupBy
    partial-aggregates map-side.  (Heavier per-doc transforms like
    minhash DO pre-spread: there compute dominates the one-time text
    shuffle on this single-split sandbox input.)"""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


def _minhash_bands_sql(src: str) -> str:
    """MinHash oracle CTEs over the ``(doc_id, text)`` relation ``src``:
    ``n`` words of the normalized text -> ``sh`` word 3-gram shingles of
    docs with >= 3 words -> ``sig`` MinHash(16) as md5-hex minima ->
    ``bands`` 4 bands x 4 rows, one md5 band key per (doc, band)."""
    return f"""
    n AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM {src}
    ),
    sh AS (
      SELECT doc_id,
             [array_to_string(w[i:i+2], ' ')
              for i in generate_series(1, greatest(len(w) - 2, 1))] AS shingles
      FROM n WHERE len(w) >= 3
    ),
    sig AS (
      SELECT doc_id,
             [list_min([substring(md5(s || '#' || (seed // 4)),
                                  (seed % 4) * 8 + 1, 8)
                        for s in shingles])
              for seed in generate_series(0, 15)] AS mh
      FROM sh
    ),
    bands AS (
      SELECT doc_id, band,
             md5(array_to_string(mh[band * 4 + 1 : band * 4 + 4], ','))
               AS band_hash
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band)
    )"""


# LSH candidate pairs (shared band key) kept as ``edges`` when their
# distinct-shingle Jaccard is >= 0.5; reads ``sh`` and ``bands``
_VERIFIED_EDGES_SQL = """
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band = r.band AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
    ),
    dsh AS (
      SELECT doc_id, list_distinct(shingles) AS s FROM sh
    ),
    edges AS (
      SELECT c.a, c.b
      FROM cand c JOIN dsh x ON c.a = x.doc_id
                  JOIN dsh y ON c.b = y.doc_id
      WHERE len(list_intersect(x.s, y.s)) * 1.0 /
            len(list_distinct(list_concat(x.s, y.s))) >= 0.5
    )"""

# connected components of ``edges`` (a, b): ``comp`` labels each node
# with the least id it reaches; the query must open WITH RECURSIVE
_CLOSURE_SQL = """
    sym AS (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL SELECT b, a FROM edges
    ),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (
      SELECT src AS node, least(src, min(dst)) AS comp
      FROM reach GROUP BY src
    )"""


@q(
    "dedup_minhash_bands",
    f"""
    WITH {_minhash_bands_sql("documents")}
    SELECT doc_id, band, band_hash FROM bands
    """,
)
def dedup_minhash_bands(spark, sf_dir):
    """MinHash(16) + LSH banding (4 bands x 4 rows): one row per
    (doc, band) with an md5 band key.  Near-dup candidates are then an
    equi-join on (band, band_hash) — shuffle scales with matches, not
    n^2.  Hex-string minhash keeps values engine-portable."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents")).where(
        F.size(F.split(dedup.normalize_text(F.col("text")), " ")) >= 3
    )
    return dedup.minhash_bands(docs, num_hashes=16, band_size=4, k=3)


# 64-bit SimHash oracle pieces: ONE md5 per token serves all 64 bits —
# bit j reads nibble (j % 32): bits 0-31 its high bit (nibble >= 8),
# bits 32-63 its second bit (value 4); chunk c is bits [16c, 16c+16).
_SIMHASH_HX_SQL = "[md5(tok) for tok in string_split(" + _NORM_SQL + ", ' ')]"


_SIMHASH_NIBBLE_SETS = (
    "('8','9','a','b','c','d','e','f')",  # bit value 8 (j // 32 == 0)
    "('4','5','6','7','c','d','e','f')",  # bit value 4 (j // 32 == 1)
)


def _simhash_chunk_sql(c: int, chunk_bits: int = 16) -> str:
    lo = c * chunk_bits
    nibble_set = _SIMHASH_NIBBLE_SETS[lo // 32]
    return f"""
           (SELECT sum(
              CASE WHEN list_sum([CASE WHEN substring(h, (j % 32) + 1, 1)
                                            IN {nibble_set}
                                       THEN 1 ELSE -1 END
                                  for h in hx]) > 0
                   THEN CAST(pow(2, j - {lo}) AS BIGINT) ELSE 0 END)
            FROM generate_series({lo}, {lo + chunk_bits - 1}) AS g(j)
           )::BIGINT AS fp{c}"""


_SIMHASH_SH_SQL = f"""
    WITH t AS (
      SELECT doc_id, {_SIMHASH_HX_SQL} AS hx FROM documents
    ),
    sh AS (
      SELECT doc_id,
             {",".join(_simhash_chunk_sql(c) for c in range(4))}
      FROM t
    )"""


@q(
    "dedup_simhash",
    _SIMHASH_SH_SQL + "\n    SELECT doc_id, fp0, fp1, fp2, fp3 FROM sh",
)
def dedup_simhash(spark, sf_dir):
    """SimHash(64) fingerprint per doc as 4 x 16-bit chunk columns —
    production width (16 bits birthday-collides at ~300 docs); the
    md5-nibble bit definition stays engine-portable and the chunks
    double as the Hamming-join blocking keys (see dedup_simhash_pairs)."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    return dedup.simhash_table_wide(docs, bits=64, chunk_bits=16)


@q(
    "dedup_ngram_jaccard",
    f"""
    WITH n AS (
      SELECT doc_id, lang, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, lang,
             list_distinct([array_to_string(w[i:i+2], ' ')
                            for i in generate_series(1, len(w) - 2)]) AS s
      FROM n WHERE len(w) >= 3
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           round(len(list_intersect(a.s, b.s)) * 1.0 /
                 len(list_distinct(list_concat(a.s, b.s))), 6)::DOUBLE AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
       AND b.doc_id - a.doc_id <= 25
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """3-gram Jaccard similarity over blocked pairs (same lang, id
    window) — the exact-verify stage that follows LSH candidate
    generation.  The id-window block is made an EQUI-join key via the
    rangejoin grid pattern: docs live in cells floor(id/25); for a
    pair a < b with b - a <= 25 the cells satisfy cell(a) in
    {cell(b), cell(b) - 1}, so exploding only the RIGHT side to its
    2 cells and hash-joining on (lang, cell) finds every pair exactly
    once (the two exploded cells are distinct, so no dedupe shuffle
    is needed); lang alone would be a near-cartesian Σ n_lang²
    comparison at scale.  array_intersect/union stay JVM-side."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id",
        "lang",
        F.array_distinct(dedup.word_shingles(F.col("text"), 3)).alias("s"),
    ).where(F.size(F.split(dedup.normalize_text(F.col("text")), " ")) >= 3)
    # materialize the shingle table once before the self-join
    # (CollapseProject would re-shingle both sides: 0.8 vs 0.44 s)
    sh = fence(sh)
    a = sh.select(
        F.col("doc_id").alias("a"),
        F.col("lang").alias("lang"),
        F.col("s").alias("s_a"),
        F.floor(F.col("doc_id") / 25).alias("cell"),
    )
    b = sh.select(
        F.col("doc_id").alias("b"),
        F.col("lang").alias("lang"),
        F.col("s").alias("s_b"),
        F.explode(
            F.array(
                F.floor(F.col("doc_id") / 25),
                F.floor(F.col("doc_id") / 25) - 1,
            )
        ).alias("cell"),
    )
    pairs = a.join(b, ["lang", "cell"]).where(
        (F.col("a") < F.col("b")) & (F.col("b") - F.col("a") <= 25)
    )
    inter = F.size(F.array_intersect("s_a", "s_b")).cast("double")
    union = F.size(F.array_union("s_a", "s_b")).cast("double")
    return pairs.select(
        "a", "b", F.round(inter / union, 6).alias("jaccard")
    )


@q(
    "fingerprint_minshingle",
    f"""
    WITH t AS (
      SELECT doc_id, {_NORM_SQL} AS s FROM documents
      WHERE length({_NORM_SQL}) >= 8
    )
    SELECT doc_id,
           list_min([substring(md5(substring(s, i, 8)), 1, 12)
                     for i in generate_series(1, length(s) - 7)]) AS fingerprint
    FROM t
    """,
)
def fingerprint_minshingle(spark, sf_dir):
    """Winnowing-style document fingerprint: min md5 prefix over 8-char
    shingles of normalized text (rolling-hash min, engine-portable),
    for documents whose normalized text holds at least one shingle."""
    from ...operators.quality import char_shingle_fingerprint

    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    fp = char_shingle_fingerprint(F.col("text"), k=8)
    return docs.where(F.length(dedup.normalize_text(F.col("text"))) >= 8).select(
        "doc_id", fp.alias("fingerprint")
    )


@q(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4)::DOUBLE
             AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                 b.embedding::DOUBLE[]) >= 0.35
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (the IVF-style
    bucket): exact cosine only within blocks, so the join scales with
    block sizes, not n^2.  Each vector's norm is computed ONCE in a
    checkpoint-fenced projection instead of per pair (the pair count
    is quadratic in block size, the vector count is linear — 5.5 s vs
    1.7 s at sf0.1, bit-identical values since the norm expression is
    unchanged, just materialized).  (Threshold 0.35 is calibrated to
    this synthetic embedding table, whose intra-label cosines top out
    near 0.47; real near-dup pipelines use ~0.9.)"""
    from ...operators.similarity import cosine_from_parts, dot, norm

    emb = _spread(spark, load_table(spark, sf_dir, "embeddings"))
    e = (
        emb.select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("n", norm(F.col("v")))
    )
    e = fence(e)
    a = e.select(
        F.col("vec_id").alias("a"),
        F.col("label").alias("label_a"),
        F.col("v").alias("emb_a"),
        F.col("n").alias("n_a"),
    )
    b = e.select(
        F.col("vec_id").alias("b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("emb_b"),
        F.col("n").alias("n_b"),
    )
    pairs = a.join(
        b, (F.col("label_a") == F.col("label_b")) & (F.col("a") < F.col("b"))
    )
    cs = cosine_from_parts(
        dot(F.col("emb_a"), F.col("emb_b")), F.col("n_a"), F.col("n_b")
    )
    return pairs.where(cs >= 0.35).select(
        "a", "b", F.round(cs, 4).alias("cos_sim")
    )


@q(
    "dedup_simhash_pairs",
    _SIMHASH_SH_SQL
    + """
    SELECT a.doc_id AS a, b.doc_id AS b,
           (bit_count(xor(a.fp0, b.fp0)) + bit_count(xor(a.fp1, b.fp1)) +
            bit_count(xor(a.fp2, b.fp2)) + bit_count(xor(a.fp3, b.fp3))
           )::BIGINT AS hamming
    FROM sh a JOIN sh b
      ON a.doc_id < b.doc_id
     AND (a.fp0 = b.fp0 OR a.fp1 = b.fp1 OR a.fp2 = b.fp2 OR a.fp3 = b.fp3)
    WHERE bit_count(xor(a.fp0, b.fp0)) + bit_count(xor(a.fp1, b.fp1)) +
          bit_count(xor(a.fp2, b.fp2)) + bit_count(xor(a.fp3, b.fp3)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash(64) near-dup pairs by chunked-fingerprint blocking
    (Manku et al., WWW'07): a pair within Hamming distance 3 of a
    4-chunk fingerprint must agree exactly on >= 1 chunk (pigeonhole),
    so the union of 4 equi-joins on (chunk_idx, chunk_value) has FULL
    recall, and every join stays
    a hash join (the oracle states the same blocking as an OR)."""
    docs = _spread(spark, load_table(spark, sf_dir, "documents"))
    fp = dedup.simhash_table_wide(docs, bits=64, chunk_bits=16)
    return dedup.simhash_hamming_pairs(fp, max_hamming=3)


_CC_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             text || ' duplicated mirror copy' FROM documents
      WHERE doc_id % 4 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             text || ' duplicated mirror copy again' FROM documents
      WHERE doc_id % 8 = 0
"""


def _mirror_corpus(spark, sf_dir):
    """The Spark twin of ``_CC_CORPUS_SQL``, spread and cut to docs
    with >= 3 words."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.select("doc_id", "text")
        .unionAll(
            docs.where(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" duplicated mirror copy")).alias(
                    "text"
                ),
            )
        )
        .unionAll(
            docs.where(F.col("doc_id") % 8 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" duplicated mirror copy again")
                ).alias("text"),
            )
        )
    )
    return _spread(spark, corpus).where(
        F.size(F.split(dedup.normalize_text(F.col("text")), " ")) >= 3
    )


@q(
    "dedup_duplicate_clusters",
    f"""
    WITH RECURSIVE corpus AS ({_CC_CORPUS_SQL}),
    {_minhash_bands_sql("corpus")},
    {_VERIFIED_EDGES_SQL},
    {_CLOSURE_SQL}
    SELECT comp.comp AS comp,
           count(*)::INT AS cluster_size,
           min(node) AS rep_doc
    FROM comp GROUP BY comp.comp
    """,
)
def dedup_duplicate_clusters(spark, sf_dir):
    """Duplicate CLUSTERS, not just pairs: LSH candidates -> exact
    Jaccard >= 0.5 verify -> connected components via min-label
    propagation (operators/dedup.connected_components).  Production
    dedup keeps one representative per component (rep_doc = min id);
    the synthesized corpus plants 2- and 3-member mirror groups since
    the driver documents are all unique.  The recursive-CTE oracle
    computes the same transitive closure."""
    from ...operators.dedup import (
        connected_components,
        jaccard_pairs,
        lsh_candidate_pairs,
    )

    corpus = _mirror_corpus(spark, sf_dir)
    cand = lsh_candidate_pairs(corpus, num_hashes=16, band_size=4, k=3)
    edges = jaccard_pairs(corpus, cand, k=3).where(F.col("jaccard") >= 0.5)
    comp = connected_components(edges)
    return comp.groupBy("comp").agg(
        F.count("*").cast("int").alias("cluster_size"),
        F.min("node").alias("rep_doc"),
    )


# near_dup_dedup corpus: exact duplicates planted as WHITESPACE
# variants (leading / trailing spaces normalize identically — this
# exercises the exact-collapse stage's text normalization, not just
# byte equality) plus near-dup mirrors that must pass the Jaccard gate.
_ND_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, ' ' || text FROM documents
      WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || '  ' FROM documents
      WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 3000000,
             text || ' duplicated mirror copy' FROM documents
      WHERE doc_id % 4 = 0
"""


@q(
    "near_dup_dedup",
    f"""
    WITH RECURSIVE corpus AS ({_ND_CORPUS_SQL}),
    m AS (
      SELECT doc_id, md5({_NORM_SQL}) AS th FROM corpus
    ),
    g AS (
      SELECT th, min(doc_id) AS keep FROM m GROUP BY th
    ),
    mem AS (
      SELECT m.doc_id, g.keep FROM m JOIN g USING (th)
    ),
    canon AS (
      SELECT c.doc_id, c.text FROM corpus c
      JOIN mem ON c.doc_id = mem.doc_id AND mem.doc_id = mem.keep
    ),
    {_minhash_bands_sql("canon")},
    {_VERIFIED_EDGES_SQL},
    {_CLOSURE_SQL}
    SELECT mem.doc_id AS doc_id,
           coalesce(comp.comp, mem.keep) AS cluster,
           coalesce(comp.comp, mem.keep) = mem.doc_id AS is_canonical
    FROM mem LEFT JOIN comp ON mem.keep = comp.node
    """,
)
def near_dup_dedup_q(spark, sf_dir):
    """The COMPOSED near-dup operator (operators/dedup.near_dup_dedup):
    exact-duplicate collapse -> LSH + Jaccard verify over canonicals
    only -> connected components -> re-attach members.  The planted
    corpus mixes whitespace-variant exact duplicates (the mega-bucket
    case, collapsed before LSH) with near-dup mirrors (must pass the
    0.5 Jaccard gate); the recursive-CTE oracle states the identical
    collapse -> closure -> re-attach pipeline, so the composition
    itself — not just its stages — gets a value-hash correctness row."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.select("doc_id", "text")
        .unionAll(
            docs.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit(" "), F.col("text")).alias("text"),
            )
        )
        .unionAll(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit("  ")).alias("text"),
            )
        )
        .unionAll(
            docs.where(F.col("doc_id") % 4 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(" duplicated mirror copy")
                ).alias("text"),
            )
        )
    )
    corpus = _spread(spark, corpus)
    return dedup.near_dup_dedup(
        corpus, jaccard_threshold=0.5, num_hashes=16, band_size=4, k=3
    )


@q(
    "lsh_dedup_clusters",
    f"""
    WITH RECURSIVE corpus AS ({_CC_CORPUS_SQL}),
    {_minhash_bands_sql("corpus")},
    hubs AS (
      SELECT band, band_hash, min(doc_id) AS hub
      FROM bands GROUP BY band, band_hash
    ),
    edges AS (
      SELECT DISTINCT h.hub AS a, b.doc_id AS b
      FROM bands b JOIN hubs h USING (band, band_hash)
      WHERE b.doc_id > h.hub
    ),
    {_CLOSURE_SQL}
    SELECT node AS doc_id, comp AS cluster FROM comp
    """,
)
def lsh_dedup_clusters_q(spark, sf_dir):
    """The STAR-EDGE cluster path (operators/dedup.lsh_dedup_clusters):
    per-bucket star edges (B-1 edges for a B-doc bucket, never B^2/2)
    -> pointer-jumping connected components -> (doc, cluster).  Stars
    preserve exactly the connectivity LSH asserts, so the recursive-CTE
    oracle over the SAME star edges states the identical closure, and
    the linear mega-bucket path gets its own driver correctness row.
    Docs sharing no band bucket with any other doc are absent
    (singletons keep themselves by definition)."""
    corpus = _mirror_corpus(spark, sf_dir)
    return dedup.lsh_dedup_clusters(
        corpus, num_hashes=16, band_size=4, k=3
    ).select("doc_id", "cluster")
