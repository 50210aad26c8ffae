"""Spark-level operator tests (local[2]) against hand-built frames."""

import pytest
from pyspark.sql import functions as F

from pdfextract_spark.operators import dedup, histogram, intervals, islands
from pdfextract_spark.operators import quality as Q
from pdfextract_spark.operators import ranking, scoring, similarity
from pdfextract_spark.operators import text as T

pytestmark = pytest.mark.spark


def test_islands_sessionize(spark):
    rows = [
        (1, 0.0), (1, 10.0), (1, 100.0), (1, 105.0),
        (2, 0.0),
    ]
    df = spark.createDataFrame(rows, "user bigint, t double")
    out = islands.islands(
        df, ["user"], "t",
        F.col("t") - F.lag("t").over(
            __import__("pyspark").sql.Window.partitionBy("user").orderBy("t")
        ) > 50,
    )
    # lag-based flag: first row null -> otherwise(0) -> island starts at 0
    got = {(r["user"], r["t"]): r["island"] for r in out.collect()}
    assert got[(1, 0.0)] == got[(1, 10.0)]
    assert got[(1, 100.0)] == got[(1, 105.0)]
    assert got[(1, 0.0)] != got[(1, 100.0)]


def test_merge_intervals_union(spark):
    rows = [(1, 0, 10), (1, 5, 20), (1, 30, 40), (2, 0, 1)]
    df = spark.createDataFrame(rows, "k int, lo int, hi int")
    out = intervals.merge_intervals(df, ["k"], "lo", "hi").collect()
    k1 = sorted((r["lo"], r["hi"]) for r in out if r["k"] == 1)
    assert k1 == [(0, 20), (30, 40)]


def test_top_k_and_flex(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 9.0), (1, "c", 5.0), (2, "d", 1.0)],
        "g int, id string, v double",
    )
    top = ranking.top_k(df, ["g"], [F.col("v").desc()], k=1)
    assert {r["id"] for r in top.collect()} == {"a", "d"}
    flex = ranking.flex_threshold(df, ["g"], "v", 0.2)
    assert {r["id"] for r in flex.collect()} == {"a", "b", "d"}


def test_second_most_frequent(spark):
    df = spark.createDataFrame(
        [(1, 3.2), (1, 3.9), (1, 3.5), (1, 0.1), (1, 0.9), (1, 7.0)],
        "g int, v double",
    )
    out = histogram.nth_most_frequent(df, ["g"], "v", 2).collect()
    assert len(out) == 1
    assert out[0]["delimiter"] == 0 and out[0]["delimiter_count"] == 2


def test_ideal_score_matches_kernel(spark):
    # A9 SQL form vs core/spatial.score on the same items
    from pdfextract_spark.core.spatial import score as kscore

    items = [{"f": 1.0}, {"f": 3.0}, {"f": 2.0}]
    kscore(items, {"f": (1.0, 10.0)}, "s")
    df = spark.createDataFrame([(1, i["f"]) for i in items], "g int, f double")
    out = scoring.ideal_score(df, ["g"], {"f": (1.0, 10.0)}, "s").orderBy("f").collect()
    for row, item in zip(out, sorted(items, key=lambda i: i["f"])):
        assert abs(row["s"] - item["s"]) < 1e-12


def test_hyphen_join_column(spark):
    df = spark.createDataFrame(
        [(1, ["syn-", "thetic text"]), (2, ["a", "b"])], "id int, lines array<string>"
    )
    out = {r["id"]: r["j"] for r in df.select("id", T.hyphen_join(F.col("lines")).alias("j")).collect()}
    assert out[1] == "synthetic text"
    assert out[2] == "a b"


def test_transliterate_column_matches_kernel(spark):
    from pdfextract_spark.core.language import transliterate as ktx

    samples = ["eﬀort ﬁne", "‘a’ “b” – —", "x  y\tz", "plain"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    out = [r["t"] for r in df.select(T.transliterate(F.col("s")).alias("t")).collect()]
    assert out == [ktx(s) for s in samples]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id bigint, text string",
    )
    out = dedup.exact_dedup(df).collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in out}
    assert by_keep == {1: 2, 3: 1}


def test_lsh_candidates_find_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely unrelated content about database engines and query plans"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id bigint, text string"
    )
    pairs = dedup.lsh_candidate_pairs(df, num_hashes=16, band_size=4, k=3).collect()
    assert (1, 2) in {(r["a"], r["b"]) for r in pairs}
    jac = dedup.jaccard_pairs(
        df, dedup.lsh_candidate_pairs(df, num_hashes=16, band_size=4, k=3)
    ).collect()
    j12 = [r["jaccard"] for r in jac if (r["a"], r["b"]) == (1, 2)][0]
    assert j12 > 0.5


def test_simhash_near_dup_low_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    near = base + "extra"
    other = "zzz qqq " * 20
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["fp0"], r["fp1"], r["fp2"], r["fp3"])
        for r in dedup.simhash_table_wide(df, bits=64, chunk_bits=16).collect()
    }

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    assert ham(out[1], out[2]) <= ham(out[1], out[3])


def test_cosine_topk_self_first(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    out = similarity.cosine_topk(df, [1.0, 0.0], k=2).collect()
    assert out[0]["vec_id"] == 0 and abs(out[0]["cos_sim"] - 1.0) < 1e-9
    assert out[1]["vec_id"] == 1


def test_ivf_bucket_prunes(spark):
    """Hyperplane-LSH candidate pruning: a near-duplicate of the query
    shares every sign bit (Hamming 0 — probed); the query's negation
    flips every sign bit (Hamming n_planes > radius — pruned)."""
    q = [0.31, -0.74, 0.2, 0.55]
    near = [x * 1.01 + 0.001 for x in q]
    far = [-x for x in q]
    df = spark.createDataFrame(
        [(0, q), (1, near), (2, far)],
        "vec_id bigint, embedding array<double>",
    )
    out = similarity.cosine_topk_ivf(df, q, k=10, n_planes=6, radius=2)
    ids = {r["vec_id"] for r in out.collect()}
    assert 0 in ids and 1 in ids and 2 not in ids  # negation pruned


def test_quality_and_langid(spark):
    good = (
        "The quick brown fox jumps over the lazy dog and then the dog "
        "sleeps in the sun for a while. " * 5
    )
    junk = "@@@@ #### $$$$ %%%% ^^^^ &&&&"
    df = spark.createDataFrame([(1, good), (2, junk)], "doc_id bigint, text string")
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            Q.quality_score(F.col("text")).alias("q"),
            Q.lang_id_en(F.col("text")).alias("lang"),
            Q.token_count(F.col("text")).alias("toks"),
        ).collect()
    }
    assert rows[1]["q"] > rows[2]["q"]
    assert rows[1]["lang"] == "en" and rows[2]["lang"] == "other"
    assert rows[1]["toks"] > 50


def test_multimodal_feature_plumbing(spark):
    from pdfextract_spark.operators import multimodal as M

    media = M.synth_media(spark, 12)
    feats = M.media_features(media, feat_dim=8).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(r["n_bytes"] > 0 for r in feats)
    # determinism
    feats2 = M.media_features(M.synth_media(spark, 12), feat_dim=8).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_interval_join_matches_naive_theta(spark):
    """Grid-bucketed range join (J1 scale form) must equal the naive
    theta-join exactly: touching intervals included, pairs spanning
    many shared cells emitted once."""
    from pdfextract_spark.operators.rangejoin import interval_join

    a = spark.createDataFrame(
        [
            (1, 0, 10, "a1"),
            (1, 100, 260, "a2"),   # spans many cells at width 16
            (1, 40, 40, "a3"),     # degenerate point interval
            (2, 0, 5, "a4"),
        ],
        "page int, a_lo long, a_hi long, aid string",
    )
    b = spark.createDataFrame(
        [
            (1, 10, 20, "b1"),     # touches a1 at 10 -> match (closed)
            (1, 90, 300, "b2"),    # overlaps a2 across ~12 shared cells
            (1, 41, 50, "b3"),     # misses a3 by 1
            (2, 6, 9, "b4"),       # misses a4 by 1
            (3, 0, 1000, "b5"),    # different page: never matches
        ],
        "page int, b_lo long, b_hi long, bid string",
    )
    fast = interval_join(
        a, b, ["page"], a_lo="a_lo", a_hi="a_hi", b_lo="b_lo", b_hi="b_hi",
        cell_width=16.0,
    )
    got = sorted((r["aid"], r["bid"]) for r in fast.collect())
    naive = a.join(
        b,
        (a["page"] == b["page"])
        & (a["a_lo"] <= b["b_hi"])
        & (b["b_lo"] <= a["a_hi"]),
    )
    want = sorted((r["aid"], r["bid"]) for r in naive.collect())
    assert got == want == [("a1", "b1"), ("a2", "b2")]
    # autotuned default (cell_width=None -> sampled median interval
    # length) must give identical pairs, and the tuner itself lands on
    # the data's median and clamps degenerate all-zero-length inputs
    from pdfextract_spark.operators.rangejoin import auto_cell_width

    auto = interval_join(
        a, b, ["page"], a_lo="a_lo", a_hi="a_hi", b_lo="b_lo", b_hi="b_hi"
    )
    assert sorted((r["aid"], r["bid"]) for r in auto.collect()) == want
    w = auto_cell_width(a, b, "a_lo", "a_hi", "b_lo", "b_hi")
    assert 5 <= w <= 200  # median of interval lengths, not an extreme
    pts = spark.createDataFrame(
        [(1, 5, 5)], "page int, a_lo long, a_hi long"
    )
    assert auto_cell_width(pts, pts, "a_lo", "a_hi", "a_lo", "a_hi") == 1.0
    # a pre-existing '_cell' column would be silently overwritten and
    # then dropped from the output — must be rejected up front
    import pytest as _pytest

    poisoned = a.withColumn("_cell", F.lit(1))
    with _pytest.raises(ValueError, match="_cell"):
        interval_join(
            poisoned, b, ["page"],
            a_lo="a_lo", a_hi="a_hi", b_lo="b_lo", b_hi="b_hi",
            cell_width=16.0,
        )


def test_sample_frames_fanout_and_determinism(spark):
    """Frame sampling is a UDTF-shaped fan-out: 1000ms / 250ms = 4 rows
    per media row, frame timestamps stride by every_ms, and the result
    is invariant under input partitioning (partition independence of
    the mapInPandas stage)."""
    import pytest as _pytest

    from pdfextract_spark.operators import multimodal as M

    media = M.synth_media(spark, 12)
    frames = M.sample_frames(media, every_ms=250).collect()
    assert len(frames) == 12 * 4
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, rows in by_media.items():
        assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2, 3]
        assert {r["ts_ms"] for r in rows} == {0, 250, 500, 750}
    again = {
        (r["media_id"], r["frame_idx"]): r["frame_sig"]
        for r in M.sample_frames(media.repartition(5), every_ms=250).collect()
    }
    first = {
        (r["media_id"], r["frame_idx"]): r["frame_sig"] for r in frames
    }
    assert again == first
    with _pytest.raises(ValueError):
        M.sample_frames(media, every_ms=0)
    # empty / NULL payloads emit a defined 0.0 signature, never NaN
    empty = spark.createDataFrame(
        [(900, 1000, b""), (901, 1000, None)],
        "media_id long, duration_ms long, payload binary",
    )
    rows = M.sample_frames(empty, every_ms=250).collect()
    assert len(rows) == 8 and all(r["frame_sig"] == 0.0 for r in rows)
    # a NULL media_id row is skipped (no identity to emit frames
    # under) instead of int(NaN) aborting the whole task
    with_null = spark.createDataFrame(
        [(None, 1000, b"x"), (902, 1000, b"y")],
        "media_id long, duration_ms long, payload binary",
    )
    rows = M.sample_frames(with_null, every_ms=250).collect()
    assert {r["media_id"] for r in rows} == {902} and len(rows) == 4


def test_decode_image_paths(spark):
    """decode_image dispatch: the stub path is deterministic and always
    available (what every oracle pins); the PIL path decodes real
    pixels when Pillow is installed and fails with a clear error when
    not — never silently falling back."""
    import numpy as np
    import pytest as _pytest

    from pdfextract_spark.operators import multimodal as M

    a = M.decode_image(b"\x01\x02\x03\x04")
    b = M.decode_image(b"\x01\x02\x03\x04")
    assert np.array_equal(a, b) and a.dtype == np.float32
    if not M.HAVE_PIL:
        with _pytest.raises(RuntimeError, match="Pillow"):
            M.decode_image(b"\x89PNG", use_stub=False)
        media = M.synth_media(spark, 2)
        with _pytest.raises(RuntimeError, match="Pillow"):
            M.media_features(media, use_stub=False)
    else:  # exercised when Pillow is installed
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (4, 2), (10, 20, 30)).save(buf, format="PNG")
        px = M.decode_image(buf.getvalue(), use_stub=False)
        assert px.shape == (8,)  # 4x2 grayscale, flattened
        # real decode through the Spark plan as well
        media = spark.createDataFrame(
            [(1, "image", buf.getvalue())],
            "media_id long, kind string, payload binary",
        )
        out = M.media_features(media, use_stub=False).collect()
        assert len(out) == 1 and len(out[0]["feature"]) == 16


def test_resize_media_shape_and_determinism(spark):
    from pdfextract_spark.operators import multimodal as M

    media = M.synth_media(spark, 8)
    out = M.resize_media(media, out_w=16, out_h=16).collect()
    assert len(out) == 8
    for r in out:
        assert (r["width"], r["height"]) == (16, 16)
        assert len(r["feature"]) == 16
    again = {r["media_id"]: r["feature"] for r in
             M.resize_media(media.repartition(3), out_w=16, out_h=16).collect()}
    assert again == {r["media_id"]: r["feature"] for r in out}


def test_ivf_recall_on_real_embeddings(spark):
    """Hyperplane-LSH ANN against brute-force ground truth on the
    driver's deterministic embeddings table.  The table is uniform
    random (no planted neighbors — ANN's worst case), so the honest
    claims are: (a) recall@10 stays useful at ~1/3 the scan cost,
    (b) the probe filter genuinely prunes, and (c) a PLANTED
    near-duplicate — the actual near-dup-retrieval use case — is
    recovered at rank 1.  Deterministic data -> no flakiness."""
    from pdfextract_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]
    truth = {
        r["vec_id"]
        for r in similarity.cosine_topk(emb, qvec, k=10).collect()
    }
    approx = {
        r["vec_id"]
        for r in similarity.cosine_topk_ivf(emb, qvec, k=10).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.4, f"recall@10 = {recall}"
    # the probe filter must prune: candidates cover < 60% of the table
    planes = similarity.seeded_hyperplanes(6, len(qvec))
    allowed = similarity.probe_buckets(qvec, planes, radius=2)
    assert len(allowed) == 22  # C(6,0)+C(6,1)+C(6,2) of 64 cells
    bucket = similarity.lsh_bucket(
        F.col("embedding").cast("array<double>"), planes
    )
    n_total = emb.count()
    n_cand = emb.where(bucket.isin(allowed)).count()
    assert 0 < n_cand < 0.6 * n_total
    # planted near-duplicate lands in the query's bucket, rank 1
    dup = spark.createDataFrame(
        [(99999, [x * 1.01 + 1e-4 for x in qvec])],
        "vec_id bigint, embedding array<double>",
    )
    base = emb.select("vec_id", F.col("embedding").cast("array<double>"))
    out = similarity.cosine_topk_ivf(base.unionByName(dup), qvec, k=10).collect()
    # vec 0 (the query itself) wins the cos=1.0 tie on vec_id; the
    # planted duplicate must be recovered immediately after it
    assert out[0]["vec_id"] == 0
    assert out[1]["vec_id"] == 99999 and out[1]["cos_sim"] >= 0.999


def test_resolve_references_catalog_join(spark):
    """J5 redesign: year-blocked catalog join resolves a matching
    citation to its DOI with score 1.0, leaves unrelated and yearless
    citations NULL, and prefers the best-scoring candidate."""
    from pdfextract_spark.operators.resolve import (
        resolve_references,
        synth_citation_catalog,
    )

    cat = synth_citation_catalog(spark, 100)
    refs = spark.createDataFrame(
        [
            ("c0", 1, "[1] Author5, X. (1975). Catalog study number 5 of topic 5."),
            ("c0", 2, "[2] Nobody, Y. (1999). Unrelated musings about nothing much."),
            ("c0", 3, "no year in this citation at all"),
        ],
        "conv_id string, ref_idx int, content string",
    )
    out = {r["ref_idx"]: r for r in resolve_references(refs, cat).collect()}
    assert out[1]["doi"] == "10.5555/synth.5" and out[1]["score"] == 1.0
    assert out[2]["doi"] is None and out[2]["score"] is None
    assert out[3]["doi"] is None
    # every input reference survives the join exactly once
    assert len(out) == 3
    # re-resolving prior output would duplicate the appended column
    # names — rejected up front instead of producing ambiguous selects
    import pytest as _pytest

    resolved_df = resolve_references(refs, cat)
    with _pytest.raises(ValueError, match="doi"):
        resolve_references(resolved_df, cat)


def test_bib_entry_rendering():
    from pdfextract_spark.core.bibview import bib_entry, render_bib

    resolved = {
        "doi": "10.5555/synth.5",
        "title": "A {Braced} Title",
        "author": "Ada Lovelace",
        "year": 1975,
    }
    e = bib_entry(resolved)
    assert e.startswith("@article{lovelace1975,")
    assert "doi = {10.5555/synth.5}" in e
    assert "\\{Braced\\}" in e  # brace escaping
    unresolved = {"content": "raw citation text", "doi": None}
    m = bib_entry(unresolved)
    assert m.startswith("@misc{") and "raw citation text" in m
    doc = render_bib([resolved, unresolved])
    assert doc.count("@") == 2 and doc.endswith("\n")
    # 'Surname, Given' keys on the surname, and BibTeX-invalid
    # characters are stripped from the key
    assert bib_entry({"author": "Lovelace, Ada", "year": 1975, "doi": "x"}).startswith(
        "@article{lovelace1975,"
    )
    assert bib_entry({"author": "O'Brien, Pat", "year": 2001, "doi": "x"}).startswith(
        "@article{obrien2001,"
    )


def test_decontamination_positive_and_negative(spark):
    """Benchmark members report hit_rate 1.0; documents with disjoint
    vocabulary report 0.0; short docs (< n words) report 0 shingles."""
    from pdfextract_spark.operators.decontaminate import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "one two three four five six seven"),
            (3, "alpha beta gamma delta epsilon something else"),
            (4, "too short"),
        ],
        "doc_id bigint, text string",
    )
    bench = corpus.where(F.col("doc_id") == 1)
    out = {
        r["doc_id"]: r
        for r in ngram_contamination(corpus, bench, n=5).collect()
    }
    assert out[1]["hit_rate"] == 1.0          # benchmark member
    assert out[2]["n_contaminated"] == 0      # disjoint vocabulary
    assert out[3]["n_contaminated"] == 1      # shares one 5-gram
    assert out[4]["n_shingles"] == 0 and out[4]["hit_rate"] == 0.0


def test_hash_sample_deterministic_and_stratified(spark):
    """Hash sampling is exactly reproducible and strata are cut
    independently (same key in different strata decides separately)."""
    from pdfextract_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
    )

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
    )
    a = {r["doc_id"] for r in hash_sample(df, "doc_id", 4).collect()}
    b = {r["doc_id"] for r in hash_sample(df, "doc_id", 4).collect()}
    assert a == b and 0.15 < len(a) / 2000 < 0.35
    s = stratified_hash_sample(df, "source", "doc_id", 4)
    per = {r["source"]: r["cnt"] for r in
           s.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    # every stratum sampled at roughly the target rate
    for src, cnt in per.items():
        assert 0.15 < cnt / (2000 / 3) < 0.35, (src, cnt)
    # stratification changes decisions vs the unstratified cut
    flat = {r["doc_id"] for r in s.collect()}
    assert flat != a


def test_sampling_null_keys_and_compound_key_ambiguity(spark):
    """Review-pass contracts: (a) hash_sample must not silently drop
    NULL-key rows — at a 16/16 rate EVERYTHING survives, NULLs
    included (md5(NULL) is NULL, which used to filter them out); (b)
    the stratified compound key is length-prefix encoded, so
    (stratum='a#b', key='c') and (stratum='a', key='b#c') — identical
    under the old bare-'#' concat — now decide independently of the
    literal 'a#b#c' spelling, and NULL stratum/key rows are neither
    dropped nor aliased to the empty string."""
    from pdfextract_spark.operators.sampling import (
        hash_bucket,
        hash_sample,
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        [("k1",), (None,), ("k2",), (None,)], "doc_key string"
    )
    kept = hash_sample(df, "doc_key", 16, 16)
    assert kept.count() == 4  # 100% rate keeps NULL keys too

    amb = spark.createDataFrame(
        [
            (1, "a#b", "c"),
            (2, "a", "b#c"),
            (3, None, "a#b#c"),
            (4, "", "a#b#c"),
        ],
        "row_id long, stratum string, key string",
    )
    # all four rows hashed identically under the old concat_ws key
    # (concat_ws skips NULLs); the encoded key must give them distinct
    # hash inputs — verify via the bucket of the encoded key itself
    from pdfextract_spark.operators.sampling import _part

    enc = amb.select(
        "row_id",
        F.concat(
            _part(F.col("stratum")), F.lit("#"), _part(F.col("key"))
        ).alias("enc"),
    )
    encs = {r["row_id"]: r["enc"] for r in enc.collect()}
    assert len(set(encs.values())) == 4, encs
    # and a NULL-stratum row is still eligible for sampling at all
    full = stratified_hash_sample(amb, "stratum", "key", 16, 16)
    assert full.count() == 4
    # hash_bucket itself is NULL-safe and in range
    b = amb.select(hash_bucket(F.col("stratum")).alias("b")).collect()
    assert all(r["b"] is not None and 0 <= r["b"] < 16 for r in b)


def test_repetition_and_gopher_flags(spark):
    from pdfextract_spark.operators.quality import (
        gopher_quality_flags,
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam " * 200),                          # looping text
            (2, " ".join(
                f"word{i} the considering regarding of something"
                for i in range(40)
            )),
            (3, "tiny"),
        ],
        "doc_id bigint, text string",
    )
    rep = {r["doc_id"]: r["repetition"] for r in repetition_stats(docs).collect()}
    assert rep[1] > 0.9          # one 2-gram dominates the loop
    assert rep[2] < 0.3
    assert rep[3] == 0.0         # < 2 words -> no grams
    flags = {
        r["doc_id"]: r
        for r in docs.select("doc_id", *gopher_quality_flags(F.col("text"))).collect()
    }
    assert flags[2]["gopher_pass"] == 1
    assert flags[3]["flag_word_count"] == 0 and flags[3]["gopher_pass"] == 0
    # looping text passes word-count but that's fine: repetition is the
    # filter that catches it; the flag battery is conjunctive with it
    assert flags[1]["flag_stopwords"] == 0


def test_merge_intervals_matches_bruteforce_union(spark):
    """Differential test: merge_intervals vs a brute-force union over
    300 randomized cases (seeded) with HEAVY duplication and touching
    intervals — the adversarial shape that exposed the tie-order bug
    the sf0.1 audit caught (duplicate (lo,hi) rows permuted between
    the flag pass and the cumsum pass)."""
    import random

    from pdfextract_spark.operators.intervals import merge_intervals

    rng = random.Random(1234)
    rows = []
    want = {}
    for case in range(300):
        ivs = []
        for _ in range(rng.randrange(0, 25)):
            lo = rng.randrange(0, 40)
            hi = lo + rng.randrange(0, 12)
            reps = rng.choice([1, 1, 1, 2, 5])   # heavy duplication
            ivs.extend([(lo, hi)] * reps)
        rows.extend((case, float(lo), float(hi)) for lo, hi in ivs)
        merged = []
        for lo, hi in sorted(set(ivs)):
            if merged and lo <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], hi)
            else:
                merged.append([lo, hi])
        want[case] = sorted((float(a), float(b)) for a, b in merged)
    df = spark.createDataFrame(rows, "case int, lo double, hi double")
    got = {}
    for r in merge_intervals(df, ["case"], "lo", "hi").collect():
        got.setdefault(r["case"], []).append((r["lo"], r["hi"]))
    got = {k: sorted(v) for k, v in got.items()}
    for case, expect in want.items():
        assert got.get(case, []) == expect, (case, got.get(case), expect)


def test_kmeans_lloyd_semantics(spark):
    """A12: separable clusters converge to their true means, init is
    deterministic (first-k by id), argmin ties go to the lowest
    cluster id, and empty clusters drop (kmeans.rb:84-86)."""
    import pytest as _pytest

    from pdfextract_spark.operators.kmeans import kmeans

    pts = [(0, 0.0, 0.0), (1, 1.0, 1.0), (2, 0.5, 0.5),
           (3, 100.0, 100.0), (4, 101.0, 101.0), (5, 99.0, 99.0)]
    df = spark.createDataFrame(pts, "rid long, x double, y double")
    centers, assigned = kmeans(
        df, keys=["x", "y"], k=2, id_col="rid", max_iter=5, delta=0.001
    )
    assert len(centers) == 2
    cs = sorted((round(c["x"], 6), round(c["y"], 6), c["n"]) for c in centers)
    assert cs == [(0.5, 0.5, 3), (100.0, 100.0, 3)]
    got = {r["rid"]: r["cid"] for r in assigned.collect()}
    assert got[0] == got[1] == got[2] and got[3] == got[4] == got[5]
    assert got[0] != got[3]
    # duplicate init centers: one goes empty and is dropped
    dup = spark.createDataFrame(
        [(0, 1.0), (1, 1.0), (2, 1.0)], "rid long, x double"
    )
    c2, _ = kmeans(dup, keys=["x"], k=2, id_col="rid", max_iter=2)
    assert len(c2) == 1 and c2[0]["n"] == 3
    with _pytest.raises(ValueError, match="max_iter"):
        kmeans(dup, keys=["x"], k=1, id_col="rid", max_iter=0)


def test_svm_parse_and_decision(spark):
    """A13: the libsvm text parser handles the public format; the RBF
    decision matches a hand-computed value; the linear path lowers to
    Catalyst; prediction margins are far from the sign boundary."""
    import numpy as np
    import pytest as _pytest

    from pdfextract_spark.operators.svm import (
        parse_libsvm_model,
        svm_decision,
    )

    text = (
        "svm_type c_svc\nkernel_type rbf\ngamma 0.5\nnr_class 2\n"
        "total_sv 2\nrho 0.25\nlabel 0 1\nnr_sv 1 1\nSV\n"
        "1.0 1:1.0 2:0.0\n-1.0 1:-1.0 2:0.0\n"
    )
    m = parse_libsvm_model(text)
    assert m["n_features"] == 2 and m["labels"] == [0, 1]
    df = spark.createDataFrame([(1, 1.0, 0.0), (2, -1.0, 0.0)],
                               "id long, f0 double, f1 double")
    rows = {r["id"]: r for r in
            svm_decision(df, m, ["f0", "f1"]).collect()}
    # at x=(1,0): 1*exp(0) - 1*exp(-0.5*4) - 0.25
    want = 1.0 - np.exp(-2.0) - 0.25
    assert abs(rows[1]["decision"] - want) < 1e-12
    assert rows[1]["predicted"] == 0 and rows[2]["predicted"] == 1
    assert abs(rows[1]["decision"]) > 1e-6  # sign margin
    # linear kernel lowers to a pure Catalyst expression (no Python
    # stage in the plan)
    lin = parse_libsvm_model(text.replace("rbf", "linear"))
    out = svm_decision(df, lin, ["f0", "f1"])
    assert "MapInPandas" not in out._jdf.queryExecution().toString()
    r = {x["id"]: x for x in out.collect()}
    assert abs(r[1]["decision"] - (2.0 * 1.0 - 0.25)) < 1e-12
    with _pytest.raises(ValueError, match="features"):
        svm_decision(df, m, ["f0"])
    with _pytest.raises(ValueError, match="svm_type"):
        parse_libsvm_model("svm_type nu_svc\nrho 0\nSV\n")


def test_svm_loads_reference_artifact():
    """The parser consumes the reference's own trained model when the
    snapshot ships it (proves format compatibility with score.rb's
    input; no weights are copied into this repo)."""
    import os

    import numpy as np
    import pytest as _pytest

    path = "/root/reference/data/reference.model"
    if not os.path.exists(path):
        _pytest.skip("reference model artifact not present")
    from pdfextract_spark.operators.svm import load_libsvm_model

    m = load_libsvm_model(path)
    assert m["kernel_type"] == "rbf" and m["n_features"] == 5
    assert m["svs"].shape[0] == len(m["sv_coef"]) > 0
    # decision function is finite and computable on a sample
    x = np.array([0.1, 0.0, 0.05, 0.4, 0.9])
    d2 = ((m["svs"] - x) ** 2).sum(axis=1)
    dec = float(np.exp(-m["gamma"] * d2) @ m["sv_coef"] - m["rho"])
    assert np.isfinite(dec)


def test_paragraph_dedup_canonical_and_strip(spark):
    """Cross-corpus paragraph dedup: the corpus-wide first occurrence
    (min doc, then min position) is canonical; later copies — across
    documents or within one — are flagged; stripping reassembles the
    surviving paragraphs with original text and order, and drops
    documents made entirely of later duplicates."""
    from pdfextract_spark.operators.dedup import (
        paragraph_dedup,
        strip_duplicate_paragraphs,
    )

    boiler = "All rights reserved."
    df = spark.createDataFrame(
        [
            (1, f"Unique one.\n\n{boiler}"),
            (2, f"{boiler}\n\nUnique two.\n\nUnique two."),
            (3, boiler),
            (4, "   \n\n  "),  # only-whitespace doc: no paragraphs
        ],
        "doc_id long, text string",
    )
    rows = paragraph_dedup(df).collect()
    flags = {(r["doc_id"], r["para_idx"]): r for r in rows}
    # doc 1 owns the boilerplate (first occurrence corpus-wide)
    assert flags[(1, 2)]["is_canonical"] and flags[(1, 2)]["dup_count"] == 3
    assert not flags[(2, 1)]["is_canonical"]
    assert not flags[(3, 1)]["is_canonical"]
    # within-doc repeat: first kept, second flagged
    assert flags[(2, 2)]["is_canonical"] and not flags[(2, 3)]["is_canonical"]
    assert (4, 1) not in flags  # whitespace-only paragraphs dropped
    out = {r["doc_id"]: r for r in strip_duplicate_paragraphs(df).collect()}
    assert out[1]["clean_text"] == f"Unique one.\n\n{boiler}"
    assert out[2]["clean_text"] == "Unique two." and out[2]["n_kept"] == 1
    assert 3 not in out and 4 not in out  # fully-duplicate doc dropped


def test_scrub_urls_emails(spark):
    """URL/email scrubbing: placeholder tokens, disjoint counts (an
    address inside a URL is consumed by the URL token), idempotent on
    clean text."""
    from pdfextract_spark.operators import quality as Qx

    df = spark.createDataFrame(
        [
            (1, "see https://a.example.org/x?u=1 and mail bob@corp.io ."),
            (2, "no contacts here"),
            (3, "http://u:p@host.example.com/path only"),
        ],
        "id long, text string",
    )
    no_url = F.regexp_replace(F.col("text"), Qx.URL_RE, "<URL>")
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            Qx.url_count(F.col("text")).alias("u"),
            Qx.email_count(no_url).alias("e"),
            Qx.scrub_urls_emails(F.col("text")).alias("clean"),
        ).collect()
    }
    assert rows[1]["u"] == 1 and rows[1]["e"] == 1
    assert rows[1]["clean"] == "see <URL> and mail <EMAIL> ."
    assert rows[2]["u"] == rows[2]["e"] == 0
    assert rows[2]["clean"] == "no contacts here"
    # credentials-in-URL: consumed by the URL token, not double-counted
    assert rows[3]["u"] == 1 and rows[3]["e"] == 0
    assert rows[3]["clean"] == "<URL> only"
    # replacement tokens with Java-regex metacharacters stay literal
    dollar = df.where("id = 1").select(
        Qx.scrub_urls_emails(
            F.col("text"), url_token="$URL$", email_token="\\E\\"
        ).alias("c")
    ).head()["c"]
    assert dollar == "see $URL$ and mail \\E\\ ."


def test_ivf_bucketed_table_partition_pruning(spark, tmp_path):
    """The IVF docstring's scale claim, proven on a real layout: a
    table PARTITIONED BY the hyperplane bucket serves the probe's
    static IN-list via partition pruning — the scan reads only the 22
    probed directories of 64, before any exact cosine runs."""
    from pdfextract_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    planes = similarity.seeded_hyperplanes(6, 64)
    vec = F.col("embedding").cast("array<double>")
    path = str(tmp_path / "emb_by_bucket")
    emb.withColumn("bucket", similarity.lsh_bucket(vec, planes)).write.partitionBy(
        "bucket"
    ).parquet(path)

    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).head()["embedding"]
    ]
    allowed = similarity.probe_buckets(qvec, planes, radius=2)
    table = spark.read.parquet(path)
    probed = table.where(F.col("bucket").isin(allowed))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the scan node carries a NON-EMPTY PartitionFilters list naming
    # the bucket column — Spark prunes unprobed directories at planning
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "bucket" in m.group(1), plan[:800]
    # and the probe genuinely restricts: filtered rows < table rows,
    # with every surviving row in a probed bucket
    rows = probed.select("bucket").collect()
    assert 0 < len(rows) < table.count()
    assert {r["bucket"] for r in rows} <= set(allowed)


def test_connected_components_min_label(spark):
    """Components over an undirected edge list: chains collapse to one
    component labeled by the minimum node, disjoint edges stay apart,
    and convergence handles a diameter longer than one round."""
    from pdfextract_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5 (diameter 4), pair 10-11, pair 20-21 linked
        # to the chain via 5-20
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 20), (20, 21), (10, 11)],
        "a long, b long",
    )
    comp = {
        r["node"]: r["comp"] for r in connected_components(edges).collect()
    }
    assert {comp[n] for n in (1, 2, 3, 4, 5, 20, 21)} == {1}
    assert comp[10] == comp[11] == 10
    # exhausting max_iter before the fixpoint fails loudly instead of
    # returning silently-wrong partial labels
    import pytest as _pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a long, b long"
    )

    def persistent():
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next()._1())
        return ids

    base = persistent()
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=2)
    # the caller gets no frame to release: neither the symmetrized
    # edges nor the last round's labels may stay persisted
    assert persistent() - base == set()


def test_asof_join_semantics(spark):
    """Point-in-time join: latest right row at or BEFORE each left ts
    per key (inclusive at equal ts), NULL when nothing precedes,
    tolerance voids stale matches, duplicate (key, ts) right rows
    resolve by the greatest right id (total order), and value-column
    collisions are rejected."""
    import pytest as _pytest

    from pdfextract_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "u", 50), (4, "v", 100)],
        "eid long, k string, ts long",
    )
    right = spark.createDataFrame(
        [
            (10, "u", 100, 1.0),   # equal ts -> matches left eid 1
            (11, "u", 200, 2.0),
            (12, "u", 200, 3.0),   # same (k, ts): greatest id wins
            (13, "w", 10, 9.0),    # other key
        ],
        "rid long, k string, ts long, px double",
    )
    out = {
        r["eid"]: r
        for r in asof_join(
            left, right, on=["k"], ts_col="ts",
            value_cols=["px"], right_id_col="rid",
        ).collect()
    }
    assert out[1]["px"] == 1.0 and out[1]["ts_asof"] == 100  # inclusive
    assert out[2]["px"] == 3.0 and out[2]["ts_asof"] == 200  # id tie-break
    assert out[3]["px"] is None and out[3]["ts_asof"] is None
    assert out[4]["px"] is None  # key v has no right rows
    # tolerance: eid 2 at ts 205 with tolerance 3 -> match at 200 stale
    tol = {
        r["eid"]: r["px"]
        for r in asof_join(
            left, right, on=["k"], ts_col="ts",
            value_cols=["px"], right_id_col="rid", tolerance=3,
        ).collect()
    }
    assert tol[1] == 1.0 and tol[2] is None
    with _pytest.raises(ValueError, match="collide"):
        asof_join(
            left.withColumnRenamed("eid", "px"), right, on=["k"],
            ts_col="ts", value_cols=["px"], right_id_col="rid",
        )
    with _pytest.raises(ValueError, match="collide"):
        asof_join(
            left.withColumnRenamed("eid", "_rid"), right, on=["k"],
            ts_col="ts", value_cols=["px"], right_id_col="rid",
        )
    # a NULL right VALUE must not splice with an older row's value:
    # the whole right row is carried atomically
    r2 = spark.createDataFrame(
        [(1, "u", 0, 5.0), (2, "u", 100, None)],
        "rid long, k string, ts long, px double",
    )
    l2 = spark.createDataFrame([(7, "u", 105)], "eid long, k string, ts long")
    row = asof_join(
        l2, r2, on=["k"], ts_col="ts", value_cols=["px"],
        right_id_col="rid", tolerance=10,
    ).head()
    assert row["px"] is None and row["ts_asof"] == 100
    # null-timestamp rows are dropped on entry (cannot match / be matched)
    l3 = spark.createDataFrame([(8, "u", None)], "eid long, k string, ts long")
    assert asof_join(
        l3, r2, on=["k"], ts_col="ts", value_cols=["px"], right_id_col="rid"
    ).count() == 0


def test_count_min_sketch_properties(spark):
    """CMS guarantees: estimates never undercount, exact for skewed
    heavy hitters at this density, and the sketch is LINEAR — building
    on two halves and summing cells equals building on the whole
    (the property that makes it map-side-combinable at any scale)."""
    from pdfextract_spark.operators.sketch import cms_build, cms_point_query

    rows = [("x",)] * 50 + [("y",)] * 7 + [(f"noise{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, "term string")
    sk = cms_build(df, "term", depth=4, width=64)
    probes = spark.createDataFrame([("x",), ("y",), ("absent",)], "term string")
    est = {
        r["term"]: r["est_count"]
        for r in cms_point_query(sk, probes, "term", depth=4, width=64).collect()
    }
    assert est["x"] >= 50 and est["y"] >= 7  # never undercounts
    assert est["x"] <= 50 + 40 and est["absent"] <= 40  # eps-bounded
    # linearity: sum of half-sketches == whole-corpus sketch
    h1 = cms_build(spark.createDataFrame(rows[:40], "term string"), "term",
                   depth=4, width=64)
    h2 = cms_build(spark.createDataFrame(rows[40:], "term string"), "term",
                   depth=4, width=64)
    merged = (
        h1.unionAll(h2)
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = {(r["depth"], r["bucket"]): r["cnt"] for r in merged.collect()}
    b = {(r["depth"], r["bucket"]): r["cnt"] for r in sk.collect()}
    assert a == b


def test_minhash_signature_and_fingerprint_columns(spark):
    """char_shingle_fingerprint is the minimum 12-hex md5 prefix over
    the k-char shingles of the normalized text: the string min equals
    the numeric min of the prefixes read as integers."""
    df = spark.createDataFrame(
        [(1, "The  quick brown fox jumps over the lazy dog ")],
        "doc_id bigint, text string",
    )
    fp = df.select(
        Q.char_shingle_fingerprint(F.col("text"), k=8).alias("f")
    ).head()["f"]
    import hashlib

    norm = "the quick brown fox jumps over the lazy dog"
    mins = min(
        int(hashlib.md5(norm[i : i + 8].encode()).hexdigest()[:12], 16)
        for i in range(len(norm) - 7)
    )
    assert fp == format(mins, "012x")


def test_simhash_hamming_pairs_full_recall(spark):
    """Pigeonhole blocking finds EVERY pair within Hamming 3 of the
    64-bit fingerprint — including planted near-dups — and an exact
    all-pairs recomputation confirms nothing was missed."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(1, base * 3), (2, base * 3 + "extra"), (3, "zzz qqq " * 20)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fp = dedup.simhash_table_wide(df, bits=64, chunk_bits=16)
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(fp, max_hamming=3).collect()
    }
    by_id = {
        r["doc_id"]: (r["fp0"], r["fp1"], r["fp2"], r["fp3"])
        for r in fp.collect()
    }

    def ham(x, y):
        return sum(bin(a ^ b).count("1") for a, b in zip(x, y))

    want = {
        (a, b): ham(by_id[a], by_id[b])
        for a in by_id
        for b in by_id
        if a < b and ham(by_id[a], by_id[b]) <= 3
    }
    assert got == want
    assert (1, 2) in got  # the planted near-dup survives at 64 bits


def test_simhash_hamming_pairs_reads_every_chunk(spark):
    """The Hamming distance covers every fp<c> column of the input, not
    a fixed four: eight 8-bit chunks where doc 3 differs from doc 1 in
    16 bits of fp4/fp5 and doc 2 differs from doc 1 in 2 bits of fp6
    give (1, 2, 2) only.  Too few chunks for pigeonhole recall is
    refused."""
    chunks = [f"fp{c}" for c in range(8)]
    rows = [
        (1, *[0] * 8),
        (2, *[0] * 6, 0b11, 0),
        (3, *[0] * 4, 255, 255, 0, 0),
    ]
    fp = spark.createDataFrame(
        rows, "doc_id bigint, " + ", ".join(f"{c} bigint" for c in chunks)
    )
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in dedup.simhash_hamming_pairs(fp, max_hamming=3).collect()
    }
    assert got == {(1, 2, 2)}
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_hamming_pairs(fp.select("doc_id", "fp0", "fp1"))


def test_simhash_table_wide_refuses_over_64_bits(spark):
    """One md5 per token serves at most 64 fingerprint bits (two per
    hex nibble); a wider request is refused, not silently truncated."""
    df = spark.createDataFrame([(1, "alpha beta")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="at most 64 bits"):
        dedup.simhash_table_wide(df, bits=128)


def test_lsh_star_edges_linear_in_mega_bucket(spark):
    """A 10^4-duplicate bucket emits B-1 star edges, not B^2/2 pairs —
    the mega-bucket guard that keeps web-scale boilerplate from
    exploding the candidate stage; connected_components over the stars
    recovers the single duplicate cluster."""
    n = 10_000
    text = "identical boilerplate navigation footer text repeated everywhere"
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id bigint, text string"
    )
    edges = dedup.lsh_star_edges(df, num_hashes=16, band_size=4, k=3)
    rows = edges.collect()
    assert len(rows) == n - 1  # linear, with hub = min doc id
    assert {r["a"] for r in rows} == {0}
    assert all(r["bucket_size"] == n for r in rows)
    comp = dedup.connected_components(
        edges.select("a", "b"), "a", "b"
    ).collect()
    assert {r["comp"] for r in comp} == {0}
    assert len(comp) == n


def test_lsh_star_edges_same_clusters_as_pairs(spark):
    """On a normal corpus the star-edge graph yields the same connected
    components as the pairwise candidate graph (stars preserve exactly
    LSH's asserted connectivity)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("today", "tomorrow")),
        (3, "completely unrelated content about database engines and plans"),
        (4, base),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kw = dict(num_hashes=16, band_size=4, k=3)
    pair_comp = {
        (r["node"], r["comp"])
        for r in dedup.connected_components(
            dedup.lsh_candidate_pairs(df, **kw), "a", "b"
        ).collect()
    }
    star_comp = {
        (r["doc_id"], r["cluster"])
        for r in dedup.lsh_dedup_clusters(df, **kw).collect()
    }
    assert pair_comp == star_comp


def test_kmeans_null_feature_assigns_cluster_zero(spark):
    """A null feature value nulls every distance; such rows keep the
    pre-rewrite behavior (NULL distances ordered first -> cluster 0)
    instead of crashing the driver-side center sort."""
    from pdfextract_spark.operators.kmeans import kmeans

    df = spark.createDataFrame(
        [(0, 0.0), (1, 0.1), (2, 10.0), (3, None)],
        "item_id bigint, x double",
    )
    centers, assigned = kmeans(
        df, ["x"], k=2, id_col="item_id",
        init=[{"x": 0.0}, {"x": 10.0}], max_iter=1,
    )
    by_id = {r["item_id"]: r["cid"] for r in assigned.collect()}
    assert by_id[3] == 0 and by_id[2] == 1 and by_id[0] == 0


def test_simhash_wide_hi_chunks_match_python_reference(spark):
    """fp2/fp3 (bits 32-63, the second-nibble-bit plane) checked
    value-exact against an independent pure-Python reference."""
    import hashlib

    rows = [(1, "alpha beta gamma delta"), (2, "the quick brown fox " * 5)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["fp0"], r["fp1"], r["fp2"], r["fp3"])
        for r in dedup.simhash_table_wide(df, bits=64, chunk_bits=16).collect()
    }
    for doc_id, text in rows:
        toks = " ".join(text.lower().split()).split(" ")
        hexes = [hashlib.md5(t.encode()).hexdigest() for t in toks]
        fps = []
        for c in range(4):
            fp = 0
            for j in range(c * 16, c * 16 + 16):
                bitval = 8 if j < 32 else 4
                s = sum(
                    1 if (int(h[j % 32], 16) & bitval) else -1 for h in hexes
                )
                if s > 0:
                    fp |= 1 << (j - c * 16)
            fps.append(fp)
        assert got[doc_id] == tuple(fps), doc_id


def test_kmeans_assign_stage_has_no_exchange(spark):
    """The argmin assignment is a pure projection: its physical plan
    must contain no Exchange (the point of the crossJoin+window ->
    distance-array rewrite)."""
    from pdfextract_spark.operators.kmeans import kmeans

    df = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "item_id bigint, x double"
    )
    _, assigned = kmeans(
        df, ["x"], k=3, id_col="item_id",
        init=[{"x": 0.0}, {"x": 3.0}, {"x": 6.0}], max_iter=1,
    )
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_connected_components_long_path_pointer_jumping(spark):
    """A 500-node path (diameter 499) must converge within max_iter=20:
    plain min-label propagation would need ~500 rounds, the pointer-
    jumping variant needs O(log d).  All nodes label to 0."""
    n = 500
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a bigint, b bigint"
    )
    out = dedup.connected_components(edges, "a", "b", max_iter=20).collect()
    assert len(out) == n
    assert {r["comp"] for r in out} == {0}


def test_connected_components_random_graph_matches_networkless_union_find(spark):
    """Pointer-jumping CC equals a driver-side union-find on a seeded
    random multi-component graph."""
    import random

    rng = random.Random(7)
    nodes = list(range(120))
    edges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    want = {v: find(v) for v in touched}
    # canonical: min node id per root
    roots = {}
    for v, r in want.items():
        roots.setdefault(r, []).append(v)
    canon = {v: min(roots[r]) for v, r in want.items()}
    df = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(df, "a", "b").collect()
    }
    assert got == canon


def test_near_dup_dedup_end_to_end_matches_brute_force(spark):
    """The composed pipeline (LSH -> Jaccard verify -> components ->
    canonical winners) equals a driver-side brute-force O(n^2) Jaccard
    clustering on a corpus with exact dupes, near dupes (high-Jaccard
    LSH-collides), and distinct docs."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base.replace("today", "tomorrow")),
        (3, base),
        (4, "completely unrelated content about database engines and plans"),
        (5, "another thoroughly different document on streaming watermarks"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: (r["cluster"], r["is_canonical"])
        for r in dedup.near_dup_dedup(
            df, jaccard_threshold=0.5, num_hashes=16, band_size=4, k=3
        ).collect()
    }

    # brute force: exact shingle Jaccard over all pairs + union-find
    def shingles(t):
        w = " ".join(t.lower().split()).split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sh = {i: shingles(t) for i, t in rows}
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(sh)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sh[i] & sh[j])
                union = len(sh[i] | sh[j])
                if union and inter / union >= 0.5:
                    ra, rb = find(i), find(j)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    want = {}
    roots = {}
    for i in ids:
        roots.setdefault(find(i), []).append(i)
    for r, members in roots.items():
        m = min(members)
        for i in members:
            want[i] = (m, i == m)
    # NOTE: LSH recall is probabilistic in general; on this corpus the
    # near-dup pair collides in every band test run (seeded md5 hashing
    # is deterministic), so exact equality is a stable assertion.
    assert out == want
    assert sum(1 for c, canon in out.values() if canon) == len(roots)


def test_lsh_max_bucket_size_caps_distinct_text_mega_bucket(spark):
    """10^4 mutually-DISTINCT lightly-perturbed boilerplate docs (the
    pathological case exact-collapse cannot absorb: every text differs
    by one trailing token, so all 10^4 survive to LSH and most share
    band buckets).  Uncapped, those buckets imply tens of millions of
    B^2/2 verify pairs; with ``max_bucket_size`` the oversized buckets
    are excluded LOUDLY — UserWarning + stats counters — and the
    emitted candidate-pair count stays bounded."""
    import warnings as W

    base = (
        "terms of service boilerplate all rights reserved contact us "
        "privacy policy cookie settings sign in register help center "
        "about careers press blog developers advertise partners status"
    )
    n_docs = 10_000
    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(base + " uniq"), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    stats: dict = {}
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        capped = dedup.lsh_candidate_pairs(
            df,
            num_hashes=16,
            band_size=4,
            k=3,
            max_bucket_size=100,
            stats=stats,
        ).count()
    msgs = [str(w.message) for w in caught if w.category is UserWarning]
    assert any("max_bucket_size=100" in m for m in msgs), msgs
    assert stats["lsh_oversized_buckets"] >= 1
    assert stats["lsh_max_bucket_size_seen"] > 100
    # the mega buckets alone imply millions of avoided B^2/2 pairs...
    assert stats["lsh_pairs_avoided"] > 1_000_000
    # ...while the capped emission is bounded by the surviving small
    # buckets (each <= 100 docs)
    assert capped < 500_000
    assert capped < stats["lsh_pairs_avoided"]


def test_lsh_pairs_avoided_is_exact_past_double_precision(spark):
    """The oversized-bucket summary counts B*(B-1)/2 pairs in bigint:
    for B = 134217731 the exact count is 9007199590285315, while a
    double-precision sum rounds it to ...316.  Buckets at or under the
    cap are not counted."""
    sizes = spark.createDataFrame(
        [(0, "mega", 134217731), (1, "small", 100)],
        "band int, band_hash string, _bsz bigint",
    )
    over, summary = dedup._oversized_buckets(sizes, 100)
    row = summary.collect()[0]
    assert (row["n"], row["mx"]) == (1, 134217731)
    assert row["avoided"] == 9007199590285315
    assert [r["band_hash"] for r in over.collect()] == ["mega"]


def test_near_dup_dedup_max_bucket_size_keeps_output_shape(spark):
    """The cap threads through near_dup_dedup: with a tiny cap on a
    perturbed-boilerplate corpus the pipeline still returns exactly
    one row per input doc with a consistent canonical-per-cluster
    invariant (recall on the capped buckets is the documented trade),
    and the stats dict carries both the LSH-cap counters and the CC
    counters."""
    import warnings as W

    base = "near duplicate boilerplate page body text repeated across the site"
    rows = [(i, f"{base} tail{i}") for i in range(300)]
    # plus one exact-dup pair that must stay merged regardless of cap
    rows += [(1000, "an exact duplicate text"), (1001, "an exact duplicate text")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    stats: dict = {}
    with W.catch_warnings(record=True) as caught:
        W.simplefilter("always")
        out = dedup.near_dup_dedup(
            df,
            num_hashes=16,
            band_size=4,
            k=3,
            max_bucket_size=10,
            stats=stats,
        ).collect()
    assert any(w.category is UserWarning for w in caught)
    assert stats["lsh_oversized_buckets"] >= 1
    assert len(out) == len(rows)
    assert len({r["doc_id"] for r in out}) == len(rows)
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for c, members in by_cluster.items():
        canons = [r for r in members if r["is_canonical"]]
        assert len(canons) == 1 and canons[0]["doc_id"] == c == min(
            r["doc_id"] for r in members
        )
    # exact duplicates collapse BEFORE LSH, so the cap can never split them
    assert (
        next(r["cluster"] for r in out if r["doc_id"] == 1001) == 1000
    )


def test_substring_span_dedup(spark):
    """Exact substring (duplicated n-gram span) dedup at n=4: a
    5-token run shared by docs 1 and 2 (case/whitespace-normalized on
    both sides) yields one merged span per doc covering exactly the
    run; a within-doc repeat whose seed windows chain end-to-end
    merges into one full-coverage span; sub-n docs and NULL text
    produce zero spans but keep their stats/strip rows."""
    from pdfextract_spark.operators.dedup import (
        strip_duplicate_spans,
        substring_dedup_stats,
        substring_duplicate_spans,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e u1 u2 u3"),
            (2, "v1 v2 A  B c D e"),  # normalization → same run
            (3, "w1 w2 w3"),  # shorter than n: no grams
            (4, None),
            (5, "p q r s t p q r s t"),  # within-doc repeat
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_lo"]): r
        for r in substring_duplicate_spans(df, n=4).collect()
    }
    # docs 1/2: seeds at the two 4-grams of the shared 5-token run,
    # merged into one span over the run
    assert spans[(1, 0)]["span_hi"] == 5 and spans[(1, 0)]["n_seeds"] == 2
    assert spans[(2, 2)]["span_hi"] == 7 and spans[(2, 2)]["n_seeds"] == 2
    # doc 5: dup grams at positions 0,1,5,6; [1,5) touches [5,9) so
    # the chain merges into a single full-coverage span
    assert spans[(5, 0)]["span_hi"] == 10 and spans[(5, 0)]["n_seeds"] == 4
    assert len(spans) == 3

    stats = {r["doc_id"]: r for r in substring_dedup_stats(df, n=4).collect()}
    assert len(stats) == 5  # every input doc reports, zero-span included
    assert (stats[1]["n_tokens"], stats[1]["dup_tokens"]) == (8, 5)
    assert abs(stats[1]["dup_ratio"] - 0.625) < 1e-9
    assert (stats[3]["dup_tokens"], stats[3]["n_spans"]) == (0, 0)
    assert (stats[4]["n_tokens"], stats[4]["dup_ratio"]) == (0, 0.0)
    assert stats[5]["dup_ratio"] == 1.0 and stats[5]["n_spans"] == 1

    clean = {r["doc_id"]: r for r in strip_duplicate_spans(df, n=4).collect()}
    assert clean[1]["clean_text"] == "u1 u2 u3"
    assert clean[2]["clean_text"] == "v1 v2"
    assert clean[3]["clean_text"] == "w1 w2 w3"
    assert clean[4]["clean_text"] == ""
    assert clean[5]["clean_text"] == ""  # fully duplicated, row kept

    # min_docs=2 (the two-level (gram,doc)->(gram) path): doc 5's
    # within-doc repeat no longer qualifies; the cross-doc run still does
    cross = {
        (r["doc_id"], r["span_lo"]): r
        for r in substring_duplicate_spans(df, n=4, min_docs=2).collect()
    }
    assert set(cross) == {(1, 0), (2, 2)}
    assert cross[(1, 0)]["span_hi"] == 5 and cross[(2, 2)]["span_hi"] == 7


def test_substring_span_dedup_matches_brute_force(spark):
    """Seeded random corpora over a 6-word vocabulary (forcing heavy
    n-gram collision), mixed casing and whitespace: spans, stats, and
    strip all equal an independent pure-Python reference."""
    import random

    from pdfextract_spark.operators.dedup import (
        strip_duplicate_spans,
        substring_dedup_stats,
        substring_duplicate_spans,
    )

    vocab = ["ab", "cd", "ef", "gh", "ij", "kl"]
    n = 3

    def brute(texts):
        import re

        toks = {
            d: re.sub(r"\s+", " ", t.lower()).strip().split()
            if t and t.strip()
            else []
            for d, t in texts.items()
        }
        from collections import Counter

        cnt = Counter()
        for ws in toks.values():
            for i in range(len(ws) - n + 1):
                cnt[tuple(ws[i : i + n])] += 1
        spans = {}
        for d, ws in toks.items():
            out = []
            for p in range(len(ws) - n + 1):
                if cnt[tuple(ws[p : p + n])] < 2:
                    continue
                if out and p <= out[-1][1]:
                    out[-1][1] = max(out[-1][1], p + n)
                    out[-1][2] += 1
                else:
                    out.append([p, p + n, 1])
            spans[d] = [tuple(x) for x in out]
        return toks, spans

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        texts = {}
        for d in range(40):
            k = rng.randrange(0, 25)
            ws = [rng.choice(vocab) for _ in range(k)]
            # random casing + occasional double space
            s = ""
            for w in ws:
                s += (w.upper() if rng.random() < 0.3 else w) + (
                    "  " if rng.random() < 0.2 else " "
                )
            texts[d] = s
        toks, want = brute(texts)
        df = spark.createDataFrame(
            list(texts.items()), "doc_id long, text string"
        )
        got = {}
        for r in substring_duplicate_spans(df, n=n).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["span_lo"], r["span_hi"], r["n_seeds"])
            )
        got = {d: sorted(v) for d, v in got.items()}
        assert got == {d: v for d, v in want.items() if v}, f"seed {seed}"

        st_rows = {
            r["doc_id"]: r for r in substring_dedup_stats(df, n=n).collect()
        }
        cl_rows = {
            r["doc_id"]: r for r in strip_duplicate_spans(df, n=n).collect()
        }
        for d, ws in toks.items():
            dup = sum(hi - lo for lo, hi, _ in want[d])
            assert st_rows[d]["n_tokens"] == len(ws)
            assert st_rows[d]["dup_tokens"] == dup, f"seed {seed} doc {d}"
            covered = set()
            for lo, hi, _ in want[d]:
                covered.update(range(lo, hi))
            keep = " ".join(
                w for i, w in enumerate(ws) if i not in covered
            )
            assert cl_rows[d]["clean_text"] == keep, f"seed {seed} doc {d}"


def test_substring_stats_mirror_scaling_invariant(spark):
    """The 8x-mirrored bench variant's defining invariant: mirroring a
    corpus k times while scaling min_count by k leaves the
    duplicated-gram set bit-identical, so every mirror's stats row
    must equal its base doc's row under the unscaled threshold.  Uses
    the same doc_id * k + i keying as the dedup_substring_stats_8x
    driver query."""
    import random

    from pyspark.sql import functions as F

    from pdfextract_spark.operators.dedup import substring_dedup_stats

    vocab = ["ab", "cd", "ef", "gh", "ij", "kl"]
    rng = random.Random(41)
    texts = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 20))))
        for d in range(30)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    base = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_spans"])
        for r in substring_dedup_stats(df, n=3, min_count=2).collect()
    }
    k = 8
    mirrored = df.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i"),
    ).select((F.col("doc_id") * k + F.col("_i")).alias("doc_id"), "text")
    rows = substring_dedup_stats(mirrored, n=3, min_count=2 * k).collect()
    assert len(rows) == k * len(texts)
    for r in rows:
        d, i = divmod(r["doc_id"], k)
        assert (
            r["n_tokens"], r["dup_tokens"], r["n_spans"]
        ) == base[d], f"mirror {i} of doc {d} diverged from base stats"


def test_bloom_filter_membership_and_merge(spark):
    """Bloom filter: inserted items always hit (no false negatives,
    NULL included via the sentinel hash), absent items miss at a
    generous m/n, and merging two filters' bit tables equals building
    over the unioned input."""
    from pdfextract_spark.operators.sketch import (
        bloom_build,
        bloom_contains,
        bloom_merge,
    )

    a = spark.createDataFrame(
        [("alpha",), ("beta",), (None,)], "item string"
    )
    b = spark.createDataFrame([("gamma",), ("alpha",)], "item string")
    kw = dict(n_bits=1 << 16, n_hashes=4)
    fa = bloom_build(a, "item", **kw)
    fb = bloom_build(b, "item", **kw)
    # "alpha" probed TWICE: a repeated probe value must still hit
    # (the operator dedups the probe stream; a per-occurrence count
    # would see 2*n_hashes rows and report a false negative)
    probes = spark.createDataFrame(
        [("alpha",), ("alpha",), ("beta",), ("gamma",), (None,),
         ("absent-xyz",)],
        "item string",
    )
    got = {
        r["item"]: r["may_contain"]
        for r in bloom_contains(
            bloom_merge(fa, fb), probes, "item", **kw
        ).collect()
    }
    assert got == {
        "alpha": True,
        "beta": True,
        "gamma": True,
        None: True,
        "absent-xyz": False,
    }
    # linearity: merged bit table == bit table of the unioned input
    merged = {r["bit"] for r in bloom_merge(fa, fb).collect()}
    direct = {
        r["bit"] for r in bloom_build(a.unionAll(b), "item", **kw).collect()
    }
    assert merged == direct


def test_bm25_and_tfidf_match_hand_computation(spark):
    """BM25 and TF-IDF against hand-computed values on a 4-doc corpus
    (one NULL doc): df counts, idf smoothing, length normalization,
    and absence handling all pinned."""
    import math

    from pdfextract_spark.operators.retrieval import bm25_scores, tf_idf

    df = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "Dog  bird"), (3, "fish"), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(df, ["cat", "dog", "absent"]).collect()
    }
    n, avgdl, k1, b = 4, 2.0, 1.2, 0.75
    idf_cat = math.log(1 + (n - 1 + 0.5) / 1.5)
    idf_dog = math.log(1 + (n - 2 + 0.5) / 2.5)

    def tfp(tf, dl):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    want1 = idf_cat * tfp(2, 3) + idf_dog * tfp(1, 3)
    want2 = idf_dog * tfp(1, 2)
    assert set(got) == {1, 2}  # doc 3 matches nothing, doc 4 is NULL
    assert abs(got[1] - want1) < 1e-9 and abs(got[2] - want2) < 1e-9

    # standard qtf semantics: a repeated query term doubles its
    # contribution instead of silently collapsing
    got_q = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(df, ["cat", "cat", "dog"]).collect()
    }
    assert abs(got_q[1] - (2 * idf_cat * tfp(2, 3) + idf_dog * tfp(1, 3))) < 1e-9
    assert abs(got_q[2] - want2) < 1e-9

    # query terms are validated against the tokenizer's domain
    import pytest as _pytest

    with _pytest.raises(ValueError, match="multi-word"):
        bm25_scores(df, ["cat dog"])
    with _pytest.raises(ValueError, match="empty"):
        bm25_scores(df, ["   "])
    with _pytest.raises(ValueError, match="query_terms is empty"):
        bm25_scores(df, [])
    # normalization matches corpus tokens: 'CAT ' scores like 'cat'
    got_n = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(df, ["CAT "]).collect()
    }
    assert abs(got_n[1] - idf_cat * tfp(2, 3)) < 1e-9

    ti = {
        (r["doc_id"], r["term"]): r
        for r in tf_idf(df).collect()
    }
    r = ti[(1, "cat")]
    assert r["tf"] == 2 and r["df_t"] == 1
    assert abs(r["tfidf"] - 2 * math.log(5 / 2)) < 1e-9
    assert ti[(2, "dog")]["df_t"] == 2  # normalization: "Dog" == "dog"
    assert (4, "") not in ti  # NULL doc contributes no rows


def test_scrub_pii_patterns(spark):
    """PII redaction: URL/email/IPv4/card/phone each replaced by its
    token in the documented order (an email inside a URL is consumed
    by the URL token; IP and card run before the looser phone
    pattern), counts match, clean text passes through unchanged, and
    — the left-anchor contract — a 13+-digit run (order id, hash,
    timestamp) is never partially redacted."""
    df = spark.createDataFrame(
        [
            (1, "mail a@b.co or https://x.io/a@b.co now"),
            (2, "server 192.168.1.1 then call +1 415-555-0123 ok"),
            (3, "totally clean words only"),
            (4, "dotted 10.0.0.7 and (415) 555-0123 and 555.123.4567"),
            (5, "order 9000001234567 stays and 123456789012345678 too"),
            (6, "pay 4111 1111 1111 1111 or 4111-1111-1111-1111 now"),
            (7, "id 4111111111111111 ok"),
            (8, "415-555-0123 starts the line"),
            (9, "order 1234-5678-9012-3456-7890 shipped"),
            (10, "ref 4111 1111 1111 1111 945 held"),
            (11, "cards: 4111 1111 1111 1111, 5500 0000 0000 0004."),
            (12, " 4111 1111 1111 1111 leads after a space"),
            (13, "a 4111111111111111 b 5500000000000004 c"),
        ],
        "doc_id long, text string",
    )
    from pdfextract_spark.operators.quality import (
        card_count,
        ip_count,
        phone_count,
        scrub_pii,
    )

    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            scrub_pii(F.col("text")).alias("clean"),
            ip_count(F.col("text")).alias("ips"),
            card_count(F.col("text")).alias("cards"),
            phone_count(F.col("text")).alias("phones"),
        ).collect()
    }
    assert rows[1]["clean"] == "mail <EMAIL> or <URL> now"
    assert rows[2]["clean"] == "server <IP> then call <PHONE> ok"
    assert rows[2]["ips"] == 1 and rows[2]["phones"] == 1
    assert rows[3]["clean"] == "totally clean words only"
    assert rows[4]["clean"] == "dotted <IP> and <PHONE> and <PHONE>"
    assert rows[4]["phones"] == 2
    # long digit runs survive untouched: no left-anchored match can
    # start mid-run, and consuming the max 12 digits fails the
    # trailing \b
    assert (
        rows[5]["clean"] == "order 9000001234567 stays and "
        "123456789012345678 too"
    )
    assert rows[5]["phones"] == 0 and rows[5]["cards"] == 0
    assert rows[6]["clean"] == "pay <CARD> or <CARD> now"
    assert rows[6]["cards"] == 2
    assert rows[7]["clean"] == "id <CARD> ok"
    assert rows[8]["clean"] == "<PHONE> starts the line"
    # the card guard's no-half-eaten contract: a 20-digit dash-grouped
    # order id and a 19-digit space-grouped run must survive intact
    # (the old \b-only pattern redacted their first 16 digits)
    assert rows[9]["clean"] == "order 1234-5678-9012-3456-7890 shipped"
    assert rows[9]["cards"] == 0
    assert rows[10]["clean"] == "ref 4111 1111 1111 1111 945 held"
    assert rows[10]["cards"] == 0 and rows[10]["phones"] == 0
    # the two-pass contract: a match's consumed right guard must not
    # hide the NEXT card (every second card leaked in one pass), and
    # a card preceded only by leading whitespace must still redact
    assert rows[11]["clean"] == "cards: <CARD>, <CARD>."
    assert rows[11]["cards"] == 2
    assert rows[12]["clean"] == " <CARD> leads after a space"
    assert rows[12]["cards"] == 1
    assert rows[13]["clean"] == "a <CARD> b <CARD> c"
    assert rows[13]["cards"] == 2


def test_cms_null_items_never_undercount(spark):
    """The CMS never-undercount contract must hold for NULL items
    too: md5(NULL) is NULL, so without the shared sentinel a NULL
    item's cells would be NULL-keyed, the point-query join would
    never match, and est_count would read 0 for an item with 1000
    true occurrences."""
    from pdfextract_spark.operators.sketch import (
        cms_build,
        cms_point_query,
    )

    rows = [(None,)] * 50 + [("alpha",)] * 7 + [("beta",)] * 3
    df = spark.createDataFrame(rows, "term string")
    sk = cms_build(df, "term", depth=4, width=64)
    items = spark.createDataFrame(
        [(None,), ("alpha",), ("beta",)], "term string"
    )
    est = {
        r["term"]: r["est_count"]
        for r in cms_point_query(sk, items, "term", depth=4, width=64).collect()
    }
    assert est[None] >= 50, est
    assert est["alpha"] >= 7 and est["beta"] >= 3


def test_bloom_contains_guards_duplicated_bloom_bits(spark):
    """A duplicated bit row on the bloom side (raw unionByName of two
    filters without bloom_merge's distinct, or a multi-batch store
    read) used to multiply the join and push the all-bits count past
    n_hashes — a false NEGATIVE for an inserted item.  The dedup
    guard now lives inside bloom_contains."""
    from pdfextract_spark.operators.sketch import (
        bloom_build,
        bloom_contains,
    )

    items = spark.createDataFrame([("x",), ("y",)], "item string")
    f = bloom_build(items, "item", n_bits=1 << 16, n_hashes=4)
    dup = f.unionByName(f)  # every bit twice — no distinct
    got = {
        r["item"]: r["may_contain"]
        for r in bloom_contains(
            dup, items, "item", n_bits=1 << 16, n_hashes=4
        ).collect()
    }
    assert got == {"x": True, "y": True}, got


def test_cosine_topk_excludes_null_and_ragged_embeddings(spark):
    """NULL embeddings and vectors of a different length than the
    query produce NULL cosines (zip_with pads with NULLs); both
    top-k variants must exclude them instead of padding the result
    with NULL-similarity rows (and, in the IVF variant, collapsing
    them all into probe bucket 0)."""
    from pdfextract_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),
        (4, [1.0, 0.0]),  # ragged
        (5, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0, 0.0, 0.0]
    got = cosine_topk(df, q, k=10).collect()
    assert {r["vec_id"] for r in got} == {1, 2, 5}
    assert all(r["cos_sim"] is not None for r in got)
    got_ivf = cosine_topk_ivf(df, q, k=10, n_planes=4, radius=4).collect()
    assert {r["vec_id"] for r in got_ivf} <= {1, 2, 5}
    assert all(r["cos_sim"] is not None for r in got_ivf)


def test_asof_join_rejects_reserved_value_cols(spark):
    """value_cols carrying a reserved working name used to die later
    in an ambiguous-reference AnalysisException from the duplicate
    struct field; the clash check must reject it up front."""
    import pytest

    from pdfextract_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10.0)], "k long, ts double")
    right = spark.createDataFrame(
        [(1, 9.0, 5.0, 100)], "k long, ts double, _rts double, rid long"
    )
    with pytest.raises(ValueError, match="_rts"):
        asof_join(
            left, right, on=["k"], ts_col="ts",
            value_cols=["_rts"], right_id_col="rid",
        )


def test_bm25_accepts_corpus_token_with_unicode_whitespace(spark):
    """The corpus tokenizer is Java \\s+ (ASCII), so a token
    containing U+00A0 is in the tokenizer's domain; the query-side
    normalization must not split it (Python str.split breaks on
    Unicode whitespace) and reject it as multi-word."""
    from pdfextract_spark.operators.retrieval import bm25_scores

    tok = "foo bar"
    df = spark.createDataFrame(
        [(1, f"{tok} plain words"), (2, "plain words only")],
        "doc_id long, text string",
    )
    got = bm25_scores(df, [tok]).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 1
    assert got[0]["bm25"] > 0


def test_flex_threshold_negative_group_max_keeps_max(spark):
    """mx * (1 - flex) sits ABOVE a negative group max, so the whole
    group — max row included — used to vanish; the mx - flex*|mx|
    form keeps the max always and is identical for mx >= 0."""
    from pdfextract_spark.operators.ranking import flex_threshold

    df = spark.createDataFrame(
        [(1, "a", -10.0), (1, "b", -9.0), (2, "c", 10.0), (2, "d", 7.9)],
        "grp int, rid string, score double",
    )
    got = {r["rid"] for r in flex_threshold(df, ["grp"], "score", 0.2).collect()}
    # group 1 (negative max): threshold -9 - 0.2*9 = -10.8, so BOTH
    # rows survive (the old mx*(1-flex) = -7.2 dropped the whole
    # group); group 2 (positive): identical to the old form, 7.9 out
    assert got == {"a", "b", "c"}


def test_minhash_bands_rejects_bad_band_size(spark):
    """num_hashes not a multiple of band_size silently wasted hashes,
    and band_size > num_hashes emitted ZERO bands (no candidate pairs
    at all) — both must raise like every other misconfiguration."""
    import pytest

    from pdfextract_spark.operators.dedup import minhash_bands

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="multiple"):
        minhash_bands(df, num_hashes=16, band_size=32)
    with pytest.raises(ValueError, match="multiple"):
        minhash_bands(df, num_hashes=16, band_size=5)


def test_ideal_score_null_feature_degrades_not_nulls(spark):
    """A NULL feature value must degrade like the NaN worst case
    (diff 1.0) instead of propagating NULL through the sum and
    erasing every other feature's weight from the row's score."""
    from pdfextract_spark.operators.scoring import ideal_score

    df = spark.createDataFrame(
        [(1, 25.0, 10.0), (1, None, 10.0), (1, 20.0, 14.0)],
        "grp int, f1 double, f2 double",
    )
    out = ideal_score(
        df, ["grp"], {"f1": (25.0, 0.6), "f2": (10.0, 0.4)}, "score"
    ).collect()
    scores = [r["score"] for r in out]
    assert all(s is not None for s in scores), scores


def test_resolve_rejects_reserved_working_columns(spark):
    """A refs frame already carrying _rid/_rtoks/_ryear would be
    silently clobbered by the internal withColumns; must raise like
    the appended-name clash does."""
    import pytest

    from pdfextract_spark.operators.resolve import resolve_references

    refs = spark.createDataFrame(
        [(1, "Smith, J. (1990) A Title.", 7)],
        "ref_id long, content string, _rid long",
    )
    cat = spark.createDataFrame(
        [("10.1/x", "A Title", "Smith", 1990)],
        "doi string, title string, author string, year int",
    )
    with pytest.raises(ValueError, match="_rid"):
        resolve_references(refs, cat, "content")


def test_resolve_score_uses_distinct_catalog_tokens(spark):
    """A catalog title repeating a token must not depress its own
    score ceiling: array_intersect is set-valued, so the denominator
    is the DISTINCT catalog vocabulary."""
    from pdfextract_spark.operators.resolve import resolve_references

    refs = spark.createDataFrame(
        [(1, "Brown, K. (1991). Data analysis.")],
        "ref_id long, content string",
    )
    cat = spark.createDataFrame(
        # 'data' five times: the multiset denominator would cap the
        # score at 3/7 = 0.43 < min_score, making the entry
        # permanently unresolvable; distinct gives 3/3 = 1.0
        [(
            "10.1/d",
            "Data, data, data, data, data: analysis",
            "Brown",
            1991,
        )],
        "doi string, title string, author string, year int",
    )
    out = resolve_references(refs, cat, "content", min_score=0.5).collect()
    assert len(out) == 1 and out[0]["doi"] == "10.1/d", out


def test_paragraph_dedup_handles_crlf_blank_lines(spark):
    """CRLF documents separate paragraphs with \\r\\n\\r\\n, which the
    old \\n{2,} split never matched — the whole doc read as ONE
    paragraph and cross-corpus paragraph dedup silently no-opped."""
    from pdfextract_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [
            (1, "shared boilerplate\r\n\r\nunique one"),
            (2, "shared boilerplate\n\nunique two"),
        ],
        "doc_id long, text string",
    )
    rows = paragraph_dedup(df).collect()
    shared = [r for r in rows if r["para"].strip() == "shared boilerplate"]
    assert len(shared) == 2 and sum(r["dup_count"] for r in shared) == 4
    assert sum(1 for r in shared if r["is_canonical"]) == 1


def test_simhash_wide_excludes_null_text(spark):
    """NULL-text docs have no token stream to fingerprint; the wide
    table excludes them explicitly (documented) instead of emitting
    NULL fp chunks that the Hamming join silently dropped."""
    from pdfextract_spark.operators.dedup import simhash_table_wide

    df = spark.createDataFrame(
        [(1, "real text here"), (2, None)], "doc_id long, text string"
    )
    rows = simhash_table_wide(df).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert all(v is not None for v in rows[0].asDict().values())
