"""Retrieval and ML queries: brute-force and IVF cosine top-k, BM25,
catalog resolution, k-means, the SVM scorer and the multimodal
feature/frame stages, each next to its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ...ioutil import local_frame
from ...operators import similarity
from ...sources.tables import load_table
from ..driver_queries import _spread, q


@q(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(embedding::DOUBLE[], qv::DOUBLE[]), 4)::DOUBLE
             AS cos_sim
    FROM embeddings, q
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (similarity-search baseline): JVM-side
    zip_with/aggregate dot product, TakeOrderedAndProject top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = (
        emb.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .head()[0]
    )
    out = similarity.cosine_topk(emb, qvec, k=10)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


@q(
    "multimodal_features",
    """
    WITH m AS (SELECT range AS media_id FROM range(64)),
    h AS (
      SELECT media_id,
             CASE WHEN media_id % 3 = 0 THEN 'image'
                  WHEN media_id % 3 = 1 THEN 'audio'
                  ELSE 'video' END AS kind,
             sha256(media_id::VARCHAR) AS hex
      FROM m
    )
    SELECT media_id, kind, 64::BIGINT AS n_bytes,
           (ascii(substr(hex, 1, 1)) + ascii(substr(hex, 2, 1))
            + ascii(substr(hex, 3, 1)) + ascii(substr(hex, 4, 1))) / 4.0 AS f0
    FROM h
    """,
)
def multimodal_features(spark, sf_dir):
    """Multimodal plumbing (build brief): opaque binary payloads ->
    Arrow-batched mapInPandas feature extraction (stubbed decode, real
    schema/batch shapes).  The oracle independently recomputes byte
    length and the first pooled feature (mean of the first 4 payload
    bytes — exact in float32, so cross-engine equality is exact),
    verifying payload bytes survive the Arrow boundary intact."""
    from ...operators import multimodal as M

    feats = M.media_features(M.synth_media(spark, 64))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.element_at("feature", 1).cast("double").alias("f0"),
    )


def _ivf_oracle(n_planes: int = 6, radius: int = 2, seed: int = 7) -> str:
    """Exact DuckDB replica of the hyperplane-LSH IVF: the same plane
    literals produce the same sign bits (minimum |dot| margin on the
    test embeddings is ~1e-4, far above any summation-order noise), and
    the Hamming-ball probe is phrased as bit_count(xor(bucket,
    q_bucket)) <= radius — equivalent to the Spark side's static probe
    IN-list, but independent of the query vector's value so one SQL
    string covers every scale factor."""
    planes = similarity.seeded_hyperplanes(n_planes, 64, seed)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_inner_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in p)}]::DOUBLE[]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             ({bucket_terms})::BIGINT AS bucket
      FROM embeddings
    ),
    q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT vec_id,
           round(list_cosine_similarity(v, qv), 4)::DOUBLE AS cos_sim
    FROM b, q
    WHERE bit_count(xor(bucket, qbucket)) <= {radius}
    ORDER BY cos_sim DESC, vec_id ASC
    LIMIT 10
    """


@q("ann_cosine_topk_ivf", _ivf_oracle())
def ann_cosine_topk_ivf(spark, sf_dir):
    """IVF/LSH ANN (scale path of ann_cosine_topk): seeded random-
    hyperplane sign buckets, multi-probe within Hamming radius 2 of
    the query's bucket (22 of 64 cells), exact cosine on candidates,
    top-k.  The probe filter is a static IN-list so a table bucketed
    on lsh_bucket gets partition pruning; the DuckDB oracle replicates
    the bucketing bit-for-bit, so this is a hash-exact check of the
    ANN algorithm itself (recall vs brute force is pinned separately
    by tests/test_spark_operators.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = (
        emb.where(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .head()[0]
    )
    return similarity.cosine_topk_ivf(emb, list(qvec), k=10)


@q(
    "multimodal_frame_sample",
    """
    WITH m AS (SELECT range AS media_id FROM range(64)),
    h AS (SELECT media_id, sha256(media_id::VARCHAR) AS hex FROM m),
    f AS (
      SELECT media_id, hex, unnest(generate_series(0, 3)) AS fi FROM h
    )
    SELECT media_id, fi::INT AS frame_idx, (fi * 250)::INT AS ts_ms,
           (ascii(substr(hex, fi * 4 + 1, 1))
            + ascii(substr(hex, fi * 4 + 2, 1))
            + ascii(substr(hex, fi * 4 + 3, 1))
            + ascii(substr(hex, fi * 4 + 4, 1))) / 4.0 AS frame_sig
    FROM f
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame sampling (build brief): UDTF-shaped mapInPandas fanning
    each media row out to one row per sampled frame (duration 1000ms /
    every 250ms = 4).  The oracle recomputes each frame signature
    independently (mean of 4 payload bytes, exact in float32), pinning
    the variable fan-out AND the per-frame payload slicing."""
    from ...operators import multimodal as M

    frames = M.sample_frames(M.synth_media(spark, 64), every_ms=250)
    return frames.select(
        "media_id",
        "frame_idx",
        "ts_ms",
        F.col("frame_sig").cast("double").alias("frame_sig"),
    )


_J5_STOP = (
    "'a','an','and','the','of','in','on','for','with','to','at','by',"
    "'journal','proceedings','conference','press','vol','pp'"
)
# list_distinct mirrors resolve._tokens' DISTINCT contract: the score
# is |distinct overlap| / |distinct catalog tokens|, so a repeated
# catalog token cannot depress the entry's score ceiling
_J5_TOK = (
    "list_distinct(list_filter(string_split(trim(regexp_replace("
    "lower({c}), "
    "'[^a-z0-9]+', ' ', 'g')), ' '), t -> length(t) >= 3 "
    "AND regexp_matches(t, '[a-z]') "
    f"AND NOT list_contains([{_J5_STOP}], t)))"
)


@q(
    "j5_resolve_catalog_join",
    f"""
    WITH cat AS (
      SELECT concat('10.5555/synth.', i) AS doi,
             concat('catalog study number ', i, ' of topic ', i % 17) AS title,
             concat('Author', i % 29) AS author,
             1970 + i % 50 AS year
      FROM (SELECT unnest(generate_series(0, 199)) AS i)
    ),
    refs AS (
      SELECT i AS ref_id,
             concat('[', i, '] Author', i % 29, ', X. (', 1970 + i % 50,
                    '). Catalog study number ', i, ' of topic ', i % 17,
                    '. Venue.') AS content
      FROM (SELECT unnest(generate_series(0, 59)) AS i)
    ),
    rt AS (
      SELECT ref_id, content,
             {_J5_TOK.format(c='content')} AS rtoks,
             nullif(regexp_extract(content,
               '(?:^|[^0-9])((?:19|20)[0-9]{{2}})(?:[^0-9]|$)', 1), '')::INT
               AS ryear
      FROM refs
    ),
    ct AS (
      SELECT doi, year,
             {_J5_TOK.format(c="concat(title, ' ', author)")} AS ctoks
      FROM cat
    ),
    scored AS (
      SELECT rt.ref_id, ct.doi,
             CASE WHEN len(ctoks) > 0
                  THEN len(list_intersect(rtoks, ctoks)) * 1.0 / len(ctoks)
                  ELSE 0.0 END AS score
      FROM rt LEFT JOIN ct ON rt.ryear = ct.year
    ),
    best AS (
      SELECT ref_id, doi, score,
             row_number() OVER (PARTITION BY ref_id
                                ORDER BY score DESC, doi ASC) AS rk
      FROM scored
    )
    SELECT ref_id,
           CASE WHEN score >= 0.5 THEN doi END AS doi,
           CASE WHEN score >= 0.5 THEN round(score, 6) END AS score
    FROM best WHERE rk = 1
    """,
)
def j5_resolve_catalog_join(spark, sf_dir):
    """J5 (resolve.rb, resolved_references.rb:11-13) — Spark-first
    redesign: per-reference HTTP resolution becomes a year-blocked
    catalog join with token-overlap scoring and per-reference argmax
    (operators/resolve.py).  At CrossRef scale the catalog is a ~150M
    row table and this is a plain shuffle hash join — no network, no
    per-row Python.  The oracle replays the identical pipeline in SQL
    over the same deterministic synthetic catalog."""
    from ...operators.resolve import resolve_references, synth_citation_catalog

    refs = spark.range(60).select(
        F.col("id").alias("ref_id"),
        F.concat(
            F.lit("["), F.col("id"), F.lit("] Author"), F.col("id") % 29,
            F.lit(", X. ("), F.lit(1970) + F.col("id") % 50,
            F.lit("). Catalog study number "), F.col("id"),
            F.lit(" of topic "), F.col("id") % 17, F.lit(". Venue."),
        ).alias("content"),
    )
    cat = synth_citation_catalog(spark, 200)
    out = resolve_references(refs, cat, min_score=0.5)
    return out.select("ref_id", "doi", "score")


_KM_K = 4
_KM_ITERS = 3


def _kmeans_oracle(k: int = _KM_K, iters: int = _KM_ITERS) -> str:
    """Unrolled Lloyd's iterations as chained CTEs — the same fixed
    round count the Spark operator runs (delta=0).  Features are
    integer-valued doubles, so every per-cluster mean is an exact
    integer sum divided once: bit-identical in any engine regardless
    of aggregation order, which makes the whole iteration chain (and
    its distance tie-breaks) engine-independent."""
    parts = [
        f"""
    WITH items AS (
      SELECT event_id AS rid,
             (event_id % 997)::DOUBLE AS x,
             (user_id % 499)::DOUBLE AS y
      FROM events
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY rid) - 1 AS cid, x AS cx, y AS cy
      FROM items ORDER BY rid LIMIT {k}
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    a{i} AS (
      SELECT rid, x, y, cid FROM (
        SELECT i.rid, i.x, i.y, c.cid,
               row_number() OVER (
                 PARTITION BY i.rid
                 ORDER BY (i.x - c.cx) * (i.x - c.cx)
                        + (i.y - c.cy) * (i.y - c.cy) ASC, c.cid ASC
               ) AS rn
        FROM items i, c{i - 1} c) WHERE rn = 1
    ),
    c{i} AS (
      SELECT row_number() OVER (ORDER BY cid) - 1 AS cid,
             avg(x) AS cx, avg(y) AS cy, count(*) AS n
      FROM a{i} GROUP BY cid
    )"""
        )
    parts.append(
        f"""
    SELECT cid, round(cx, 6)::DOUBLE AS x, round(cy, 6)::DOUBLE AS y, n
    FROM c{iters} ORDER BY cid"""
    )
    return "".join(parts)


@q("a12_kmeans_centers", _kmeans_oracle())
def a12_kmeans_centers(spark, sf_dir):
    """A12 (kmeans.rb:41-111): distributed Lloyd's k-means — broadcast
    k centers, JVM-side argmin assignment, map-side-combinable mean —
    with deterministic first-k init and a fixed iteration count so the
    unrolled-CTE oracle replays the identical rounds."""
    from ...operators.kmeans import kmeans

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        F.col("event_id").alias("rid"),
        (F.col("event_id") % 997).cast("double").alias("x"),
        (F.col("user_id") % 499).cast("double").alias("y"),
    )
    centers, _ = kmeans(
        items, keys=["x", "y"], k=_KM_K, id_col="rid",
        max_iter=_KM_ITERS, delta=0.0,
    )
    return local_frame(
        spark,
        [
            (c["cid"], round(c["x"], 6), round(c["y"], 6), c["n"])
            for c in centers
        ],
        "cid int, x double, y double, n bigint",
    )


# deterministic synthetic RBF model: 3 support vectors over 5 features,
# all-dyadic constants (exactly representable doubles), so the only
# cross-engine float hazard is exp() itself (<= 1 ulp)
_SVM_SVS = [
    [0.25, -0.5, 0.75, 0.0, -0.25],
    [-0.75, 0.5, -0.25, 0.5, 0.25],
    [0.5, 0.25, -0.5, -0.75, 0.5],
]
_SVM_COEF = [0.5, -0.25, 0.75]
_SVM_GAMMA = 0.5
_SVM_RHO = 0.125


def _svm_feature_sql(i: int) -> str:
    mods = [7, 11, 13, 17, 19]
    return f"((doc_id % {mods[i]})::DOUBLE / {mods[i]} - 0.5)"


def _svm_oracle() -> str:
    terms = []
    for sv, a in zip(_SVM_SVS, _SVM_COEF):
        d2 = " + ".join(
            f"({_svm_feature_sql(j)} - ({sv[j]!r})) * "
            f"({_svm_feature_sql(j)} - ({sv[j]!r}))"
            for j in range(5)
        )
        terms.append(f"({a!r}) * exp(-{_SVM_GAMMA!r} * ({d2}))")
    dec = " + ".join(terms) + f" - {_SVM_RHO!r}"
    return f"""
    SELECT doc_id,
           round({dec}, 6)::DOUBLE AS decision,
           (CASE WHEN ({dec}) > 0 THEN 0 ELSE 1 END)::INT AS predicted
    FROM documents
    """


@q("a13_svm_reference_score", _svm_oracle())
def a13_svm_reference_score(spark, sf_dir):
    """A13 (score.rb:13-26): c_svc RBF decision function as one
    vectorized Arrow stage (exp(-gamma*||x-sv||^2) @ alpha per batch).
    The model here is a deterministic synthetic stand-in with dyadic
    constants; production loads any libsvm artifact via
    operators/svm.load_libsvm_model (e.g. the reference's own
    data/reference.model)."""
    import numpy as np

    from ...operators.svm import svm_decision

    model = {
        "svm_type": "c_svc",
        "kernel_type": "rbf",
        "gamma": _SVM_GAMMA,
        "rho": _SVM_RHO,
        "labels": [0, 1],
        "sv_coef": np.array(_SVM_COEF),
        "svs": np.array(_SVM_SVS),
        "n_features": 5,
    }
    docs = load_table(spark, sf_dir, "documents")
    mods = [7, 11, 13, 17, 19]
    feats = docs.select(
        "doc_id",
        *[
            ((F.col("doc_id") % m).cast("double") / F.lit(float(m)) - 0.5)
            .alias(f"f{j}")
            for j, m in enumerate(mods)
        ],
    )
    out = svm_decision(feats, model, [f"f{j}" for j in range(5)])
    return out.select(
        "doc_id",
        F.round("decision", 6).alias("decision"),
        F.col("predicted").cast("int").alias("predicted"),
    )


@q(
    "text_bm25",
    """
    WITH nw AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                              'g')), ' ') AS w
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(w) AS term FROM nw
      WHERE coalesce(array_to_string(w, ''), '') <> ''
    ),
    base AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf
      FROM toks GROUP BY doc_id, term
    ),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
    hits AS (
      SELECT b.doc_id, b.term, b.tf, dl.dl
      FROM base b JOIN dl USING (doc_id)
      WHERE b.term IN ('dup', 'vector', 'query', 'zyzzyva_absent')
    ),
    dfreq AS (SELECT term, count(*)::BIGINT AS df_t FROM hits GROUP BY term),
    stats AS (
      SELECT (SELECT count(*) FROM documents)::BIGINT AS n,
             (SELECT avg(dl) FROM dl) AS avgdl
    )
    SELECT h.doc_id,
           round(sum(ln(1 + (s.n - d.df_t + 0.5) / (d.df_t + 0.5))
                     * h.tf * (1.2 + 1)
                     / (h.tf + 1.2 * (1 - 0.75 + 0.75 * h.dl / s.avgdl))),
                 6) AS bm25
    FROM hits h JOIN dfreq d USING (term) CROSS JOIN stats s
    GROUP BY h.doc_id
    """,
)
def text_bm25(spark, sf_dir):
    """Okapi BM25 (operators/retrieval.bm25_scores) of every document
    matching a 4-term probe query (one rare term, two common, one
    absent) — the decontamination-triage / corpus-search scorer.  The
    query-term filter lands before the joins, df_t (<= 4 rows) and the
    corpus scalars broadcast, and both aggregations combine map-side;
    scores round to 6 dp on both sides (the one ln() in the suite —
    ulp-level libm variance is absorbed by the rounding)."""
    from ...operators.retrieval import bm25_scores

    docs = _spread(
        spark, load_table(spark, sf_dir, "documents")
    ).select("doc_id", "text")
    out = bm25_scores(docs, ["dup", "vector", "query", "zyzzyva_absent"])
    return out.select("doc_id", F.round("bm25", 6).alias("bm25"))
