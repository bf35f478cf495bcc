"""Unit tests for similarity, textstats and multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark.operators import multimodal, similarity, textstats


def test_cosine_topk_self_similarity(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),   # identical direction -> cos 1
        (2, [0.0, 1.0, 0.0]),   # orthogonal -> cos 0
        (3, [-1.0, 0.0, 0.0]),  # opposite -> cos -1
        (4, [1.0, 1.0, 0.0]),   # cos = 1/sqrt(2)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["cos"] for r in similarity.cosine_topk(emb, 0, 4).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.0)
    assert got[3] == pytest.approx(-1.0)
    assert got[4] == pytest.approx(1 / math.sqrt(2), abs=1e-6)


def test_lsh_sketch_identical_vectors_collide(spark):
    rows = [(0, [0.5, -0.25, 1.0]), (1, [0.5, -0.25, 1.0]), (2, [-3.0, 2.0, -1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sk = {r["vec_id"]: r["sketch"] for r in similarity.hyperplane_sketch(emb).collect()}
    assert sk[0] == sk[1]
    pairs = {(r["vec_a"], r["vec_b"]) for r in similarity.cosine_pairs_lsh(emb, 0.9).collect()}
    assert (0, 1) in pairs


def _rand_embeddings(spark, n=40, dims=8, seed=7):
    import random

    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dims)]) for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_banded_lsh_band_keys_reslice_full_sketch(spark):
    """Band keys are exactly the full sketch's bit slices: band b key ==
    (sketch >> b*r) & (2^r - 1) — tuning bands re-slices, never re-hashes."""
    emb = _rand_embeddings(spark)
    sk = {r["vec_id"]: r["sketch"] for r in similarity.hyperplane_sketch(emb).collect()}
    bks = similarity.hyperplane_band_buckets(emb, num_planes=8, bands=2).collect()
    assert len(bks) == 2 * len(sk)
    for r in bks:
        assert r["key"] == (sk[r["vec_id"]] >> (r["band"] * 4)) & 0xF


def test_banded_lsh_recall_superset_of_single_band(spark):
    """OR-of-ANDs: a pair equal on the FULL 8-plane sketch is equal in
    both 4-plane bands, so banded candidates are a strict superset of
    single-band candidates — banding only ever ADDs recall."""
    emb = _rand_embeddings(spark, n=60)
    single = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_pairs_lsh(emb, -1.0, num_planes=8, bands=1).collect()
    }
    banded = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_pairs_lsh(emb, -1.0, num_planes=8, bands=2).collect()
    }
    assert single <= banded
    # and every banded pair genuinely collides in some band (no full
    # product leaked through): verify against the bucket table itself
    buckets = similarity.hyperplane_band_buckets(emb, 8, 2).collect()
    by_bucket: dict[tuple, set] = {}
    for r in buckets:
        by_bucket.setdefault((r["band"], r["key"]), set()).add(r["vec_id"])
    collide = {
        (a, b)
        for members in by_bucket.values()
        for a in members
        for b in members
        if a < b
    }
    assert banded <= collide


def test_banded_lsh_scores_match_brute_force(spark):
    """Every banded-LSH pair carries the exact brute-force cosine (the
    verify step is exact; only recall is approximate)."""
    emb = _rand_embeddings(spark, n=30)
    brute = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in similarity.cosine_pairs_brute(emb, -1.0).collect()
    }
    for r in similarity.cosine_pairs_lsh(emb, -1.0, num_planes=8, bands=2).collect():
        assert brute[(r["vec_a"], r["vec_b"])] == r["cos"]


def test_banded_lsh_rejects_uneven_bands(spark):
    emb = _rand_embeddings(spark, n=3)
    with pytest.raises(ValueError, match="evenly divide"):
        similarity.hyperplane_band_buckets(emb, num_planes=8, bands=3)


def test_token_stats_and_quality(spark):
    docs = spark.createDataFrame(
        [(1, "Hello, world! The cat."), (2, "")], "doc_id long, text string"
    )
    ts = {r["doc_id"]: r for r in textstats.token_stats(docs).collect()}
    assert ts[1]["n_tokens"] == 4
    # pieces: Hello , world ! The cat . -> 7
    assert ts[1]["n_pieces"] == 7
    assert ts[2]["n_tokens"] == 0 and ts[2]["avg_token_len"] == 0.0
    qs = {r["doc_id"]: r for r in textstats.quality_scores(docs).collect()}
    assert qs[1]["stopword_ratio"] == pytest.approx(0.25)  # "The"
    assert 0.0 <= qs[1]["quality"] <= 1.0
    assert qs[2]["punct_ratio"] == 0.0


def test_lang_id_markers(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "el gato que la casa de que"),
            (3, "qqq zzz xxx"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "unknown"


def test_repetition_ratio_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # 2-grams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "a b c d"),       # all distinct
            (3, "one"),           # too short for a 2-gram
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textstats.repetition_ratio(docs, ngram=2).collect()}
    assert (got[1]["n_ngrams"], got[1]["n_distinct"]) == (5, 2)
    assert got[1]["repetition_ratio"] == pytest.approx(1 - 2 / 5)
    assert got[2]["repetition_ratio"] == 0.0
    assert got[3]["n_ngrams"] == 0 and got[3]["repetition_ratio"] == 0.0
    assert got[4]["repetition_ratio"] == 0.0


def test_keep_cols_collisions_fail_loud(spark):
    """Round-7 advice: a keep_cols entry named doc_id (the key every
    operator emits itself) or duplicated within keep_cols used to defer
    to a downstream AMBIGUOUS_REFERENCE far from the call site — all
    three passthrough operators must raise at the call instead."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "hello world", "web")], "doc_id long, text string, source string"
    )
    for op in (
        lambda **kw: textstats.quality_scores(docs, **kw),
        lambda **kw: textstats.lang_id(docs, **kw),
        lambda **kw: textstats.repetition_ratio(docs, **kw),
    ):
        with pytest.raises(ValueError, match="doc_id"):
            op(keep_cols=("doc_id",))
        with pytest.raises(ValueError, match="duplicate"):
            op(keep_cols=("source", "source"))
    # output-column collisions still raise (the pre-existing guard)
    with pytest.raises(ValueError, match="pred_lang"):
        textstats.lang_id(docs, keep_cols=(F.lit(1).alias("pred_lang"),))


def test_contamination_check_and_decontaminate(spark):
    from pagerank_mapreduce_implementation_spark.operators.contamination import (
        contamination_check,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "we observed the quick brown fox jumps over a fence"),  # shares 3-grams
            (2, "completely unrelated training text about spark plans"),
            (3, "hi"),  # too short for any 3-gram
        ],
        "doc_id long, text string",
    )
    audit = {
        r["doc_id"]: r
        for r in contamination_check(train, bench, ngram=3, threshold=0.1).collect()
    }
    assert set(audit) == {1, 2, 3}
    # doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps",
    # "fox jumps over" (4 of its 8 3-grams)
    assert audit[1]["n_contaminated"] == 4 and audit[1]["n_shingles"] == 8
    assert audit[1]["is_contaminated"] == 1
    assert audit[2]["n_contaminated"] == 0 and audit[2]["is_contaminated"] == 0
    assert audit[3]["n_shingles"] == 0 and audit[3]["is_contaminated"] == 0

    kept = {r["doc_id"] for r in decontaminate(train, bench, ngram=3, threshold=0.1).collect()}
    assert kept == {2, 3}

    # threshold=0.0 edge: zero-shingle docs must NOT be flagged (the
    # n_shingles > 0 guard, matching the DuckDB oracle's flag).
    at_zero = {
        r["doc_id"]: r["is_contaminated"]
        for r in contamination_check(train, bench, ngram=3, threshold=0.0).collect()
    }
    # docs WITH shingles all hit ratio >= 0.0; only the zero-shingle
    # doc escapes the flag.
    assert at_zero == {1: 1, 2: 1, 3: 0}


def test_hash_split_deterministic_and_partition_stable(spark):
    from pagerank_mapreduce_implementation_spark.operators.sampling import hash_split

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    # same assignment regardless of physical layout
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), "doc_id").collect()
    }
    assert a == b
    # ratios roughly honor 90/5/5 on 200 keys
    from collections import Counter

    c = Counter(a.values())
    assert set(c) <= {"train", "val", "test"}
    assert c["train"] > 150
    # and a subset of the corpus keeps its assignments (append-stable)
    sub = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.filter("doc_id < 50"), "doc_id").collect()
    }
    assert sub == {k: v for k, v in a.items() if k < 50}


def test_hash_split_rejects_bad_percentages(spark):
    from pagerank_mapreduce_implementation_spark.operators.sampling import hash_split

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="sum to 100"):
        hash_split(docs, "doc_id", {"train": 80, "val": 10})


def test_quota_sample_top_k_per_group(spark):
    from pagerank_mapreduce_implementation_spark.operators.sampling import quota_sample

    rows = [
        ("a", 1, 0.9), ("a", 2, 0.8), ("a", 3, 0.95), ("a", 4, 0.8),
        ("b", 5, 0.1),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, quality double")
    got = {
        (r["source"], r["rn"]): r["doc_id"]
        for r in quota_sample(df, "source", "quality", 2, "doc_id").collect()
    }
    # a: 0.95 (doc 3) then 0.9 (doc 1); the 0.8 tie never reaches rn<=2
    assert got == {("a", 1): 3, ("a", 2): 1, ("b", 1): 5}


def test_redact_pii_counts_and_masks(spark):
    from pagerank_mapreduce_implementation_spark.operators.redaction import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@test.org or call 555-123-4567 now"),
            (2, "see https://x.io/p?q=1 and https://y.io b@c.de"),
            (3, "no pii here at all"),
            # an email-shaped token inside a URL is a URL, not an email
            (4, "https://host/a@b.com rest"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert (got[1]["n_emails"], got[1]["n_phones"], got[1]["n_urls"]) == (1, 1, 0)
    assert got[1]["redacted"] == "mail me at [EMAIL] or call [PHONE] now"
    assert (got[2]["n_urls"], got[2]["n_emails"]) == (2, 1)
    assert got[2]["redacted"] == "see [URL] and [URL] [EMAIL]"
    assert got[3]["redacted"] == "no pii here at all"
    assert (got[4]["n_urls"], got[4]["n_emails"]) == (1, 0)
    assert got[4]["redacted"] == "[URL] rest"


def test_cc_star_string_vertex_ids(spark):
    """star CC orders vertices with greatest/least — must work on the
    STRING ids the wiki graph uses, not just longs."""
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [("pageB", "pageA"), ("pageC", "pageB"), ("zeta", "yank")],
        "src string, dst string",
    )
    star = {
        r.vertex: r.component
        for r in connected_components(edges, algorithm="star", max_iters=8).collect()
    }
    assert star == {
        "pageA": "pageA", "pageB": "pageA", "pageC": "pageA",
        "yank": "yank", "zeta": "yank",
    }


def test_fingerprint_order_sensitive(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprints(docs).collect()}
    assert fp[1] == fp[3]
    assert fp[1] != fp[2]


def test_blob_metadata_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    blobs = multimodal.text_as_blob(docs)
    got = {r["doc_id"]: r for r in multimodal.blob_metadata(blobs).collect()}
    assert got[1]["n_bytes"] == 5
    assert got[1]["content_md5"] == "5d41402abc4b2a76b9719d911017c592"
    assert got[2]["n_bytes"] == 0


def test_decode_image_stub_and_fake(spark):
    docs = spark.createDataFrame([(1, "imgbytes")], "doc_id long, text string")
    blobs = multimodal.text_as_blob(docs)
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(blobs).collect()
    rows = multimodal.decode_image(blobs, decoder=multimodal.fake_image_decoder).collect()
    assert rows[0]["width"] >= 16 and rows[0]["format"] in ("png", "jpeg", "webp")
    with pytest.raises(NotImplementedError):
        multimodal.sample_frames(blobs).collect()


def test_sample_frames_with_fake_demuxer(spark):
    docs = spark.createDataFrame([(1, "x" * 25)], "doc_id long, text string")
    blobs = multimodal.text_as_blob(docs)
    fake = lambda b: [bytes([c]) for c in b]  # noqa: E731 1 frame per byte
    rows = multimodal.sample_frames(blobs, every_n=10, decoder=fake).collect()
    assert [r["frame_idx"] for r in rows] == [0, 10, 20]


def test_resize_stub_and_fake(spark):
    docs = spark.createDataFrame([(1, "payload")], "doc_id long, text string")
    blobs = multimodal.text_as_blob(docs)
    with pytest.raises(NotImplementedError):
        multimodal.resize_image(blobs, 8, 8).collect()
    fake = lambda b, w, h: b[: w * h]  # noqa: E731
    rows = multimodal.resize_image(blobs, 2, 2, resizer=fake).collect()
    assert bytes(rows[0]["content"]) == b"payl"


def test_extract_features_feeds_similarity(spark):
    """blob -> embedding -> exact ANN: the multimodal bridge composes
    with the similarity operators end-to-end."""
    docs = spark.createDataFrame(
        [(i, f"payload {i % 3}") for i in range(6)], "doc_id long, text string"
    )
    emb = multimodal.extract_features(multimodal.text_as_blob(docs), dim=8)
    rows = emb.collect()
    assert len(rows) == 6 and all(len(r["embedding"]) == 8 for r in rows)
    # deterministic: same payload -> same vector
    by_id = {r["vec_id"]: list(r["embedding"]) for r in rows}
    assert by_id[0] == by_id[3] and by_id[0] != by_id[1]
    top = similarity.cosine_topk(emb, 0, k=2).collect()
    # vec 3 duplicates vec 0's payload -> cosine 1.0 at the top
    assert top[0]["vec_id"] == 3 and top[0]["cos"] == 1.0


def test_ivf_topk_matches_brute_on_good_recall(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.sources import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    ivf = [tuple(r) for r in similarity.ivf_topk(emb, 0, k=5, n_probe=16, n_cells=16).collect()]
    brute = [tuple(r) for r in similarity.cosine_topk(emb, 0, 5).collect()]
    # probing ALL cells == exact search
    assert ivf == brute


def test_ivf_probe_limits_scan(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)] + [
        (10, [1.0, 0.1, 0.0, 0.0]),
        (11, [0.0, 0.0, 1.0, 0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, assign = similarity.ivf_assign(emb, n_cells=4)
    cells = {r["vec_id"]: r["cell_id"] for r in assign.collect()}
    assert cells[10] == cells[0]  # aligned with e0 centroid
    assert cells[11] == cells[2]


@pytest.mark.slow  # r17 fast-tier split: >10 s sweep, see pytest.ini
def test_lloyd_centroids_beat_first_n_recall(spark, sf_dir):
    """K-means (Lloyd) centroid refinement must improve IVF recall vs
    the first-n seed against the exact cosine_topk baseline (the
    'production recall' claim in ivf_assign's docstring, made real)."""
    from pagerank_mapreduce_implementation_spark.sources import Catalog

    emb = Catalog(spark, sf_dir).embeddings.persist()
    try:
        lloyd = similarity.lloyd_centroids(emb, n_cells=16, n_iters=3)
        recalls = {}
        for label, cents in [("first_n", None), ("lloyd", lloyd)]:
            hits = 0
            for qid in [13, 42, 99]:
                exact = {
                    r["vec_id"] for r in similarity.cosine_topk(emb, qid, k=10).collect()
                }
                got = {
                    r["vec_id"]
                    for r in similarity.ivf_topk(
                        emb, qid, k=10, n_cells=16, n_probe=4, centroids=cents
                    ).collect()
                }
                hits += len(got & exact)
            recalls[label] = hits / 30
        assert recalls["lloyd"] > recalls["first_n"], recalls
    finally:
        emb.unpersist()


def test_salted_sum_equals_plain(spark):
    from pagerank_mapreduce_implementation_spark.operators.skew import salted_sum
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("hot", float(i % 7)) for i in range(1000)] + [("cold", 1.0)] * 3,
        "k string, v double",
    )
    got = {r["k"]: r["v_agg"] for r in salted_sum(df, ["k"], "v", 8).collect()}
    want = {
        r["k"]: r["s"]
        for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k])


def test_salted_count_combines_partials(spark):
    """Count partials must combine by SUMMING — a count-of-counts would
    return the number of salt buckets touched (ADVICE r1)."""
    from pagerank_mapreduce_implementation_spark.operators.skew import salted_sum
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("hot", 1.0)] * 500 + [("cold", 2.0)] * 3, "k string, v double"
    )
    got = {
        r["k"]: r["v_agg"]
        for r in salted_sum(df, ["k"], "v", 8, agg=F.count).collect()
    }
    assert got == {"hot": 500, "cold": 3}


def test_salted_constant_hot_key_spreads(spark):
    """A hot key whose rows are byte-identical (the sentinel case) must
    still spread across salt buckets — a value-column hash collapses it
    onto one reducer (ADVICE r1)."""
    from pagerank_mapreduce_implementation_spark.operators.skew import _row_salt

    df = spark.createDataFrame(
        [("hot", 1.0)] * 2000, "k string, v double"
    ).repartition(8)
    n_buckets = df.select(_row_salt(df, 16).alias("s")).distinct().count()
    assert n_buckets > 1


def test_salted_sum_deterministic_across_runs(spark):
    """Salting must be stable under recomputation (no
    monotonically_increasing_id): two executions of the same plan give
    identical phase-1 groupings and identical results."""
    from pagerank_mapreduce_implementation_spark.operators.skew import salted_sum

    df = spark.createDataFrame(
        [(f"k{i % 5}", float(i)) for i in range(300)], "k string, v double"
    )
    out = salted_sum(df, ["k"], "v", 8)
    first = sorted(tuple(r) for r in out.collect())
    second = sorted(tuple(r) for r in out.collect())
    assert first == second


def test_salted_join_equals_plain(spark):
    from pagerank_mapreduce_implementation_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i % 3, f"row{i}") for i in range(100)], "key int, payload string"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "key int, val string")
    got = sorted(tuple(r) for r in salted_join(big, small, "key").collect())
    want = sorted(tuple(r) for r in big.join(small, "key").collect())
    assert got == want


def test_sql_views_surface(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.sources import Catalog

    Catalog(spark, sf_dir).register_views()
    out = spark.sql(
        """
        WITH big AS (SELECT o_custkey, sum(o_totalprice) AS total
                     FROM orders GROUP BY o_custkey)
        SELECT c_name, total FROM big JOIN customer ON o_custkey = c_custkey
        ORDER BY total DESC LIMIT 5
        """
    ).collect()
    assert len(out) == 5 and out[0]["total"] >= out[4]["total"]


def test_set_ops_intersect_except(spark):
    """INTERSECT via the operator; EXCEPT as its complement — the set
    surface the reference lacks entirely (SURVEY.md §2.3)."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators.relational import (
        repeat_error_users,
    )

    ev = spark.createDataFrame(
        [(1, "purchase"), (1, "error"), (2, "purchase"), (3, "error"), (4, "signup")],
        "user_id long, event_type string",
    )
    both = {r.user_id for r in repeat_error_users(ev).collect()}
    assert both == {1}
    only_buy = {
        r.user_id
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .exceptAll(ev.filter(F.col("event_type") == "error").select("user_id"))
        .collect()
    }
    assert only_buy == {2}


def test_approx_uniques_error_bound(spark, sf_dir):
    """HLL++ estimate within 3x the configured rsd of the exact
    distinct count (probabilistic bound; 3 sigma at rsd=0.05)."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import sketches
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    ev = Catalog(spark, sf_dir).events
    approx = {
        r.event_type: r.approx_uniques
        for r in sketches.approx_uniques(
            ev, ["event_type"], "user_id", rsd=0.05
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(1, 0.15 * n), (k, approx[k], n)


def _make_ppm(w, h, seed=0):
    import numpy as np

    rng = np.arange(w * h * 3, dtype=np.int64) + seed
    px = (rng % 251).astype(np.uint8).reshape(h, w, 3)
    from pagerank_mapreduce_implementation_spark.operators.multimodal import ppm_encode

    return ppm_encode(px), px


def test_ppm_pipeline_decode_resize_features(spark):
    """The multimodal path runs FOR REAL on PPM payloads: header
    decode, nearest-neighbor resize, feature extraction — no codec
    library, all through the same Arrow mapInPandas plumbing."""
    import numpy as np

    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    blobs = spark.createDataFrame(
        [(1, _make_ppm(8, 6, 0)[0]), (2, _make_ppm(16, 4, 7)[0])],
        "doc_id long, content binary",
    )
    meta = {r.doc_id: r for r in mm.decode_image(blobs, decoder=mm.ppm_decoder).collect()}
    assert (meta[1].width, meta[1].height, meta[1].format) == (8, 6, "ppm")
    assert (meta[2].width, meta[2].height) == (16, 4)

    resized = mm.resize_image(blobs, 4, 3, resizer=mm.ppm_resizer).collect()
    for r in resized:
        w, h, px = mm._ppm_parse(bytes(r.content))
        assert (w, h) == (4, 3)
    # nearest-neighbor exactness: resizing 8x6 -> 4x3 keeps pixels at
    # even source indices
    _, src = _make_ppm(8, 6, 0)
    _, _, got = mm._ppm_parse(bytes(next(r.content for r in resized if r.doc_id == 1)))
    assert (got == src[::2, ::2]).all()

    feats = {
        r.vec_id: r.embedding
        for r in mm.extract_features(
            blobs, extractor=mm.ppm_feature_extractor
        ).collect()
    }
    assert len(feats[1]) == 6 + 12  # 3 means + 3 stds + 2x2 grid x3
    b1, px1 = _make_ppm(8, 6, 0)
    assert feats[1][0] == pytest.approx(
        float(px1.astype("float64").mean(axis=(0, 1))[0] / 255.0), rel=1e-6
    )


def test_ppm_video_frame_sampling(spark):
    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    frames = [_make_ppm(4, 4, s)[0] for s in range(25)]
    video = mm.frames_pack(frames)
    blobs = spark.createDataFrame([(1, video)], "doc_id long, content binary")
    out = mm.sample_frames(blobs, every_n=10, decoder=mm.frames_demuxer).collect()
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 10, 20]
    assert all(bytes(r.frame) == frames[r.frame_idx] for r in out)


def test_ppm_features_no_nan_when_grid_exceeds_dims(spark):
    import math

    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    b, _ = _make_ppm(2, 1)  # 1 row, 2 cols; grid=4 > both dims
    feats = mm.ppm_feature_extractor(b, grid=4)
    assert len(feats) == 6 + 4 * 4 * 3
    assert all(not math.isnan(x) for x in feats)


def test_frames_demuxer_rejects_truncation(spark):
    import pytest as _pytest

    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    packed = mm.frames_pack([b"abc", b"defg"])
    assert mm.frames_demuxer(packed) == [b"abc", b"defg"]
    with _pytest.raises(ValueError, match="truncated"):
        mm.frames_demuxer(packed[:-2])
    with _pytest.raises(ValueError, match="count header"):
        mm.frames_demuxer(b"\x00")


def test_wav_codec_round_trip_and_guards(spark):
    """WAV PCM16 codec: encode -> parse round-trips samples + rate
    exactly; malformed payloads (truncation, stereo, non-PCM,
    wrong magic) raise instead of mis-parsing; decode_audio without a
    decoder is an explicit stub."""
    import numpy as np
    import pytest as _pytest

    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    samples = np.array([0, 100, -100, 32767, -32768, 1], dtype="<i2")
    b = mm.wav_encode(samples, 44100)
    sr, got = mm._wav_parse(b)
    assert sr == 44100 and np.array_equal(got, samples)
    assert mm.wav_decoder(b) == (44100, 6)
    assert len(b) == 44 + 12
    with _pytest.raises(ValueError, match="RIFF"):
        mm._wav_parse(b"nope" + b[4:])
    with _pytest.raises(ValueError, match="truncated"):
        mm._wav_parse(b[:-3])
    # stereo header rejected: channels field at fmt body offset 2
    stereo = bytearray(b)
    stereo[22] = 2
    with _pytest.raises(ValueError, match="mono"):
        mm._wav_parse(bytes(stereo))
    compressed = bytearray(b)
    compressed[20] = 3  # IEEE float fmt tag
    with _pytest.raises(ValueError, match="PCM"):
        mm._wav_parse(bytes(compressed))
    # zero sample rate would flow into duration as inf/NaN — reject
    zerorate = bytearray(b)
    zerorate[24:28] = (0).to_bytes(4, "little")
    with _pytest.raises(ValueError, match="sample rate"):
        mm._wav_parse(bytes(zerorate))
    with _pytest.raises(NotImplementedError, match="stubbed"):
        mm.decode_audio(spark.createDataFrame([], "doc_id long, content binary"))


def test_wav_features_hand_computed(spark):
    """wav_feature_extractor matches a hand computation: RMS of a
    constant-amplitude square wave and ZCR of an alternating signal."""
    import math

    import numpy as np

    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    # alternating +/-1000: every adjacent pair crosses zero
    sig = np.array([1000, -1000] * 8, dtype="<i2")
    feats = mm.wav_feature_extractor(mm.wav_encode(sig, 8000), frames=2)
    rms = math.sqrt(sum((1000.0 / 32768.0) ** 2 for _ in range(8)) / 8)
    assert feats == [rms, 1.0, rms, 1.0]
    # decode_audio metadata end-to-end through mapInPandas
    blobs = spark.createDataFrame(
        [(7, mm.wav_encode(sig, 16000))], "doc_id long, content binary"
    )
    row = mm.decode_audio(blobs, mm.wav_decoder).collect()[0]
    assert (row.sample_rate, row.n_samples, row.n_bytes) == (16000, 16, 44 + 32)
    assert row.duration_ms == 16 * 1000.0 / 16000.0


def test_audio_blobs_feed_ann_pipeline(spark):
    """The multimodal -> similarity bridge works for AUDIO exactly as
    for images: WAV blobs -> extract_features(wav_feature_extractor)
    yields (vec_id, embedding) that cosine_topk consumes directly, and
    an identical signal is its own nearest neighbor."""
    import numpy as np

    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm

    def sig(seed, flip=1):
        i = np.arange(96, dtype="int64")
        return (((seed * 13 + i * 29) % 200 - 100) * flip).astype("<i2")

    rows = [
        (0, mm.wav_encode(sig(5), 8000)),
        (1, mm.wav_encode(sig(5), 8000)),      # identical to 0
        (2, mm.wav_encode(sig(77), 8000)),
        (3, mm.wav_encode(sig(123), 8000)),
    ]
    blobs = spark.createDataFrame(rows, "doc_id long, content binary")
    emb = mm.extract_features(
        blobs, extractor=lambda b: mm.wav_feature_extractor(b, 4)
    )
    top = similarity.cosine_topk(emb, 0, k=3).collect()
    assert top[0]["vec_id"] == 1 and abs(top[0]["cos"] - 1.0) < 1e-6


def test_lloyd_no_driver_roundtrip_inside_loop(spark, monkeypatch):
    """Round-3 verdict item 7: the Lloyd loop must not collect per
    iteration. Centroid state stays a 1-row DataFrame; the only driver
    actions are the dims probe and the single final collect — so the
    action count is INDEPENDENT of n_iters."""
    from pyspark.sql import DataFrame

    rows = [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    counts = {}
    orig_collect = DataFrame.collect
    for n_iters in (1, 4):
        n = 0

        def counting(self):
            nonlocal n
            n += 1
            return orig_collect(self)

        monkeypatch.setattr(DataFrame, "collect", counting)
        got = similarity.lloyd_centroids(emb, n_cells=4, n_iters=n_iters)
        monkeypatch.setattr(DataFrame, "collect", orig_collect)
        assert len(got) == 4 and all(len(v) == 3 for v in got)
        counts[n_iters] = n
    assert counts[1] == counts[4], counts


def test_lloyd_releases_checkpoint_storage(spark):
    """Round-5 advice (medium): ``DataFrame.unpersist()`` is a NO-OP on
    localCheckpoint'ed frames (the checkpoint persists its RDD outside
    the cache manager), so the r4 'fix' still leaked one cached RDD per
    iteration. The release now diffs ``getPersistentRDDs`` and
    unpersists at the RDD layer — assert via ``getRDDStorageInfo`` that
    no cached blocks outlive the call."""
    rows = [(i, [float(i % 4), float((i * 7) % 5), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def cached_ids():
        return {
            int(info.id())
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = cached_ids()
    got = similarity.lloyd_centroids(emb, n_cells=4, n_iters=2)
    assert len(got) == 4
    leaked = cached_ids() - before
    assert not leaked, f"lloyd_centroids leaked cached RDDs: {leaked}"


@pytest.mark.parametrize(
    "helper, fail_at, train",
    [
        # _with_cnorms runs once for the seed, then once per iteration
        ("_with_cnorms", 3, lambda e: similarity.lloyd_centroids(e, 4, n_iters=3)),
        # _sq_l2 runs once per iteration
        ("_sq_l2", 2, lambda e: similarity.pq_train(e, m=2, k=4, n_iters=3)),
    ],
    ids=["lloyd_centroids", "pq_train"],
)
def test_training_loop_releases_checkpoints_when_it_raises(
    spark, monkeypatch, helper, fail_at, train
):
    """A failure in iteration 2 must still release the lazy checkpoint
    iteration 1 pinned — the release runs on every exit, not only
    after the final collect."""
    from pagerank_mapreduce_implementation_spark.util import persistent_rdd_ids

    rows = [(i, [float(i % 4), float((i * 7) % 5), 1.0, 2.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    orig = getattr(similarity, helper)
    calls = 0

    def failing(*args):
        nonlocal calls
        calls += 1
        if calls == fail_at:
            raise RuntimeError("injected")
        return orig(*args)

    monkeypatch.setattr(similarity, helper, failing)
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="injected"):
        train(emb)
    assert persistent_rdd_ids(spark) - before == set()


def test_weighted_sample_deterministic_and_proportional(spark):
    from pagerank_mapreduce_implementation_spark.operators.sampling import weighted_sample

    # weights span 100..499 plus a deterministic heavy band >= 600
    rows = [(i, float(100 + (i * 37) % 400)) for i in range(2000)] + [
        (10_000 + i, 600.0 + i) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    kept1 = {r["doc_id"] for r in weighted_sample(df, "w", 600.0, "doc_id").collect()}
    # stable under re-partitioning and re-ordering
    shuffled = df.repartition(13).sortWithinPartitions(df.w.desc())
    kept2 = {
        r["doc_id"] for r in weighted_sample(shuffled, "w", 600.0, "doc_id").collect()
    }
    assert kept1 == kept2
    # appending rows never flips existing rows' fate
    extra = spark.createDataFrame([(9999, 250.0)], "doc_id long, w double")
    kept3 = {
        r["doc_id"]
        for r in weighted_sample(df.unionByName(extra), "w", 600.0, "doc_id").collect()
    }
    assert kept1 == kept3 - {9999} or kept1 == kept3
    # keep-rate tracks weight: heavy rows sampled ~proportionally more
    heavy = {i for i, w in rows if w >= 400.0}
    light = {i for i, w in rows if w <= 200.0}
    rate_heavy = len(kept1 & heavy) / len(heavy)
    rate_light = len(kept1 & light) / len(light)
    assert rate_heavy > rate_light + 0.2
    # weight >= scale => always kept (p = 1)
    sure = {i for i, w in rows if w >= 600.0}
    assert sure <= kept1


def test_ivf_topk_batch_matches_single_and_handles_missing(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.sources import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    batch = similarity.ivf_topk_batch(emb, [13, 42], k=5)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cos"]))
    for qid in (13, 42):
        single = [
            (r["vec_id"], r["cos"]) for r in similarity.ivf_topk(emb, qid, k=5).collect()
        ]
        assert sorted(by_q[qid]) == sorted(single), qid
    # an id absent from the table contributes no rows; empty list -> empty
    assert similarity.ivf_topk_batch(emb, [10**9], k=5).count() == 0
    assert similarity.ivf_topk_batch(emb, [], k=5).count() == 0


def test_weighted_sample_zero_weight_and_empty(spark):
    from pagerank_mapreduce_implementation_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(1, 0.0), (2, 1e9)], "doc_id long, w double")
    kept = {r["doc_id"] for r in weighted_sample(df, "w", 600.0, "doc_id").collect()}
    assert kept == {2}  # zero weight never sampled; huge weight always
    empty = spark.createDataFrame([], "doc_id long, w double")
    assert weighted_sample(empty, "w", 600.0, "doc_id").count() == 0


def test_cosine_matches_ab_cross_corpus(spark):
    """Cross-corpus LSH matches: identical vectors across tables always
    collide (same deterministic planes on both sides); scores are the
    exact brute-force cosine; disjoint id spaces need no a<b filter."""
    a_rows = [(1, [1.0, 0.0, 0.5]), (2, [-1.0, 2.0, 0.0])]
    b_rows = [(101, [1.0, 0.0, 0.5]), (102, [0.0, -1.0, 3.0])]
    emb_a = spark.createDataFrame(a_rows, "vec_id long, embedding array<float>")
    emb_b = spark.createDataFrame(b_rows, "vec_id long, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.cosine_matches_ab(emb_a, emb_b, threshold=-1.0).collect()
    }
    assert got[(1, 101)] == 1.0  # identical vector in both corpora
    for (ia, ib), c in got.items():
        assert ia in {1, 2} and ib in {101, 102}
        assert -1.0 <= c <= 1.0


def test_stratified_weighted_sample_per_group_normalization(spark):
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        stratified_weighted_sample,
    )

    # stratum A weights ~ [100, 1000], stratum B ~ [1, 10]: a GLOBAL
    # scale would keep nearly nothing from B; per-stratum max keeps the
    # best rows of BOTH
    rows = [(i, "A", float(100 + i * 9)) for i in range(100)] + [
        (1000 + i, "B", 1.0 + i * 0.09) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    kept = {
        r["doc_id"]
        for r in stratified_weighted_sample(df, "w", "source", 0.9, "doc_id").collect()
    }
    kept_a = [d for d in kept if d < 1000]
    kept_b = [d for d in kept if d >= 1000]
    assert len(kept_a) > 20 and len(kept_b) > 20  # both strata sampled
    # deterministic across re-partitioning
    kept2 = {
        r["doc_id"]
        for r in stratified_weighted_sample(
            df.repartition(7), "w", "source", 0.9, "doc_id"
        ).collect()
    }
    assert kept == kept2
    # the max-weight row of each stratum has p = rate; a weight-0 row never survives
    z = spark.createDataFrame([(1, "A", 0.0)], "doc_id long, source string, w double")
    assert stratified_weighted_sample(z, "w", "source", 0.9, "doc_id").count() == 0


def test_hll_sketch_rollup_merge_within_bound(spark):
    """The merge-not-rescan property: unioning per-group sketches
    estimates the union cardinality within the same 3-sigma bound as a
    direct full-column sketch. (The two estimates need NOT be equal:
    hll_union_agg promotes registers to the HLL_8 target mode, while a
    direct sketch can stay in sparse/HLL_4 mode — both are statistically
    equivalent, not bit-identical.)"""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import sketches

    rows = [(i % 500, f"2024-01-{1 + i % 20:02d}T00:00:00") for i in range(3000)]
    df = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    daily = sketches.hll_daily_sketches(df, "ts", "user_id")
    merged = sketches.hll_rollup_estimate(daily).collect()[0]["total_estimate"]
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("e")
    ).collect()[0]["e"]
    exact = 500
    bound = 3 * 1.04 / (2**12) ** 0.5 * exact
    assert abs(merged - exact) <= bound
    assert abs(direct - exact) <= bound


def test_chunk_documents_window_semantics(spark):
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (2, "a b c"),                                # fits one window
            (3, ""),                                     # no chunks
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk"], r["n_tokens"])
        for r in text_ops.chunk_documents(docs, window=4, stride=3).collect()
    }
    # doc 1: 10 toks, window 4, stride 3 -> 1 + ceil(6/3) = 3 chunks
    assert {k for k in got if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t3 t4 t5 t6", 4)  # overlap of window-stride = 1
    assert got[(1, 2)] == ("t6 t7 t8 t9", 4)
    # every token appears in some chunk
    covered = set(" ".join(c for (d, _), (c, _n) in sorted(got.items()) if d == 1).split())
    assert covered == {f"t{i}" for i in range(10)}
    assert got[(2, 0)] == ("a b c", 3)  # short doc: one short chunk
    assert not any(d == 3 for d, _ in got)  # empty doc: nothing
    with pytest.raises(ValueError, match="must be positive"):
        text_ops.chunk_documents(docs, window=0, stride=3).collect()


def test_lloyd_exact_mean_partitioning_invariant(spark, sf_dir):
    """exact_mean centroids are identical regardless of input
    partitioning (the default avg mode only promises ~1e-15-noise
    equivalence) — the property that lets ivf_topk_lloyd sit behind a
    hash-exact SQL oracle."""
    from pagerank_mapreduce_implementation_spark.operators import similarity
    from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

    emb = Catalog(spark, sf_dir).embeddings
    a = similarity.lloyd_centroids(emb, n_cells=4, n_iters=2, exact_mean=True)
    b = similarity.lloyd_centroids(
        emb.repartition(7), n_cells=4, n_iters=2, exact_mean=True
    )
    assert a == b  # bit-exact, not approximately
    c = similarity.lloyd_centroids(emb, n_cells=4, n_iters=2)
    assert len(c) == len(a) and all(
        abs(x - y) < 1e-9 for ca, cb in zip(a, c) for x, y in zip(ca, cb)
    )  # avg mode agrees to float-noise, by design


def test_count_min_sketch_guarantees(spark):
    """CMS invariants: est >= exact for every item (never undercounts),
    bounded state (depth*width cells max), partitioning-invariance
    (commutative sums), and merge = cell-wise add across two corpora."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import sketches

    rows = [(i, f"w{i % 17}") for i in range(400)] + [(1000 + j, "hot") for j in range(200)]
    df = spark.createDataFrame(rows, "id long, word string")
    depth, width = 4, 32  # narrow width to force real collisions
    sk = sketches.count_min_sketch_table(df, "word", depth, width)
    assert sk.count() <= depth * width
    items = [f"w{k}" for k in range(17)] + ["hot", "absent"]
    est = {
        r["item"]: r["est"]
        for r in sketches.count_min_estimates(sk, items, depth, width).collect()
    }
    exact = {r["word"]: r["cnt"] for r in df.groupBy("word").agg(
        F.count(F.lit(1)).alias("cnt")).collect()}
    for it in items:
        assert est[it] >= exact.get(it, 0), it
    assert est["hot"] >= 200
    # partitioning-invariant: identical sketch cells from a repartition
    sk2 = sketches.count_min_sketch_table(df.repartition(13), "word", depth, width)
    assert sorted(map(tuple, sk.collect())) == sorted(map(tuple, sk2.collect()))
    # mergeable: sketch(A union B) == cellwise-sum(sketch A, sketch B)
    a, b = df.filter("id < 300"), df.filter("id >= 300")
    ska = sketches.count_min_sketch_table(a, "word", depth, width)
    skb = sketches.count_min_sketch_table(b, "word", depth, width)
    merged = (
        ska.unionByName(skb)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, sk.collect()))


def test_grouped_theilsen_kernel_and_modes(spark):
    """grouped_theilsen: the per-group Theil-Sen slope (median of
    pairwise slopes over distinct-x pairs) matches a hand computation
    through the collect_list + vectorized pandas UDF plan; arrival
    order never changes the result; degenerate groups (singleton,
    all-equal x) yield NULL slope."""
    from pagerank_mapreduce_implementation_spark.operators.grouped import (
        _theilsen_slope,
        grouped_theilsen,
    )

    # hand check: points (0,0),(1,2),(2,2) -> pairwise slopes 2,1,0
    # -> median 1.0
    assert _theilsen_slope([0.0, 1.0, 2.0], [0.0, 2.0, 2.0]) == 1.0
    # even pair count interpolates: (0,0),(1,3) and (1,3),(2,4) plus
    # (0,0),(2,4) -> slopes 3,1,2 -> median 2; add (3,4): slopes
    # 3,1,2, 4/3, 1/2, 0 -> sorted [0,.5,1,4/3,2,3] -> median (1+4/3)/2
    assert _theilsen_slope(
        [0.0, 1.0, 2.0, 3.0], [0.0, 3.0, 4.0, 4.0]
    ) == (1.0 + 4.0 / 3.0) / 2.0
    assert _theilsen_slope([5.0], [1.0]) is None
    assert _theilsen_slope([2.0, 2.0, 2.0], [1.0, 9.0, 4.0]) is None

    rows = [
        (1, 0.0, 0.0), (1, 1.0, 2.0), (1, 2.0, 2.0),
        (2, 10.0, 5.0),                      # singleton -> NULL
        (3, 7.0, 1.0), (3, 7.0, 9.0),        # equal x -> NULL
        (4, 0.0, 1.0), (4, 2.0, 5.0),        # one pair -> 2.0
    ]
    df = spark.createDataFrame(rows, "user_id long, x double, y double")
    want = {1: (3, 1.0), 2: (1, None), 3: (2, None), 4: (2, 2.0)}
    got = {
        r["user_id"]: (r["n"], r["slope"])
        for r in grouped_theilsen(df, "user_id", "x", "y").collect()
    }
    assert got == want
    # arrival order independence (the hash-gate requirement)
    shuffled = spark.createDataFrame(rows[::-1], "user_id long, x double, y double")
    a = sorted(map(tuple, grouped_theilsen(df, "user_id", "x", "y").collect()))
    b = sorted(map(tuple, grouped_theilsen(shuffled, "user_id", "x", "y").collect()))
    assert a == b
    # empty input keeps the schema; string keys work
    empty = spark.createDataFrame([], "user_id long, x double, y double")
    out = grouped_theilsen(empty, "user_id", "x", "y")
    assert out.columns == ["user_id", "n", "slope"] and out.count() == 0
    sdf = spark.createDataFrame(
        [("a", 0.0, 4.0), ("a", 1.0, 6.0)], "k string, x double, y double"
    )
    assert grouped_theilsen(sdf, "k", "x", "y").collect()[0]["slope"] == 2.0


def test_event_funnel_first_touch_semantics(spark):
    """event_funnel anchors at the FIRST step-1 event: steps must be
    strictly ordered and inside the anchor window; out-of-order or
    late events don't count; reach truncates at the first miss."""
    import datetime as dt

    from pagerank_mapreduce_implementation_spark.operators.sessions import event_funnel

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # u1 completes: signup@0, click@1h, purchase@2h
        (1, t0, "signup"), (1, t0 + h, "click"), (1, t0 + 2 * h, "purchase"),
        # u2: purchase BEFORE click -> reach 2 only
        (2, t0, "signup"), (2, t0 + 2 * h, "click"), (2, t0 + 1 * h, "purchase"),
        # u3: click outside the 24h window of the FIRST signup; the
        # later signup would qualify, but first-touch anchors at t0
        (3, t0, "signup"), (3, t0 + 30 * h, "signup"), (3, t0 + 31 * h, "click"),
        # u4: never signs up -> absent from the funnel entirely
        (4, t0, "click"), (4, t0 + h, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: r
        for r in event_funnel(
            ev, ["signup", "click", "purchase"], within_hours=24
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["reached"] == 3 and out[1]["t3"] == t0 + 2 * h
    assert out[2]["reached"] == 2 and out[2]["t3"] is None
    assert out[3]["reached"] == 1 and out[3]["t1"] == t0  # first-touch anchor
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        event_funnel(ev, [])


def test_mix_sources_hits_target_proportions(spark):
    """mix_sources: the binding source keeps everything, surviving
    token mass lands near the target proportions, non-target sources
    vanish, and the surviving row set is repartition-invariant."""
    import random

    import pytest
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators.sampling import mix_sources

    rng = random.Random(7)
    rows = []
    sizes = {"web": 2000, "code": 900, "papers": 400, "junk": 500}
    i = 0
    for src, total in sizes.items():
        made = 0
        while made < total:
            n = rng.randrange(5, 15)
            rows.append((i, src, " ".join(f"t{j}" for j in range(n))))
            made += n
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = {"web": 0.5, "code": 0.3, "papers": 0.2}
    out = mix_sources(docs, target)
    toks = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    got = {
        r["source"]: r["nt"]
        for r in out.groupBy("source").agg(F.sum(toks).alias("nt")).collect()
    }
    assert set(got) == set(target)  # junk dropped
    # papers binds (400/0.2=2000 < 2000/0.5=4000, 900/0.3=3000): keeps all
    assert got["papers"] == sizes["papers"]
    k = sizes["papers"] / target["papers"]
    for s, p in target.items():
        assert got[s] <= sizes[s]
        assert abs(got[s] - p * k) / (p * k) < 0.25, (s, got[s], p * k)
    same = mix_sources(docs.repartition(11), target)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in same.collect()
    )
    with pytest.raises(ValueError, match="non-empty"):
        mix_sources(docs, {})
    with pytest.raises(ValueError, match="positive"):
        mix_sources(docs, {"web": 0.0})
    # a typo'd source must FAIL LOUDLY, not silently reshape the
    # mixture by dropping out of the totals join (round-5 advice)
    with pytest.raises(ValueError, match="wob"):
        mix_sources(docs, {"wob": 0.5, "code": 0.5})


def test_bm25_search_term_semantics(spark):
    """Pivoted-plan edge semantics: duplicate query terms count once
    (dict.fromkeys dedupe), empty term lists fail loud, and scores
    rank a term-dense short doc above a sparse long one."""
    from pagerank_mapreduce_implementation_spark.operators.text import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark fast"),
            (2, "spark " + " ".join(f"w{i}" for i in range(60))),
            (3, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.score for r in bm25_search(docs, ["spark"]).collect()}
    assert set(scores) == {1, 2}  # doc 3 matches nothing -> no row
    assert scores[1] > scores[2]  # tf-saturated + length-normalized
    dup = {r.doc_id: r.score for r in bm25_search(docs, ["spark", "spark"]).collect()}
    assert dup == scores  # a repeated term must not double its part
    with pytest.raises(ValueError, match="at least one query term"):
        bm25_search(docs, [])


def test_parameter_guards_fail_loud(spark):
    """Round-8 validation sweep: params that used to fail with an
    obscure internal error (empty-agg assertion, Arrow-batch division
    by zero, a silent [] return) must raise ValueError at the call."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    sh = spark.createDataFrame([(1, "a")], "doc_id long, shingle string")
    with pytest.raises(ValueError, match="num_hashes"):
        dedup.minhash_signatures(sh, num_hashes=0)
    blobs = spark.createDataFrame([], "doc_id long, content binary")
    with pytest.raises(ValueError, match="every_n"):
        multimodal.sample_frames(blobs, every_n=0, decoder=lambda b: [])
    sig = multimodal.wav_encode(multimodal.wav_test_signal(1))
    with pytest.raises(ValueError, match="frames"):
        multimodal.wav_feature_extractor(sig, frames=0)


def test_gopher_rules_matches_duckdb_oracle(spark, sf_dir):
    """Gopher rule battery (round 9): metrics and the keep verdict
    hash-exact against a DuckDB mirror over the real documents table
    plus hand-built edge docs (empty text, bullet lists, ellipsis
    spam, symbol floods, short/non-alpha) — ratios rounded 6 BEFORE
    comparison on both sides so boundary verdicts agree bit-for-bit.
    This SQL is the registry-oracle candidate for a future round."""
    import duckdb
    import pandas as pd

    from pagerank_mapreduce_implementation_spark.operators import textstats

    edge = [
        (9001, ""),
        (9002, "- one\n- two\n- three\n* four"),
        (9003, "wait...\nmore...\nokay then\nfine..."),
        (9004, "#### ## # " + " ".join(f"w{i}" for i in range(60))),
        (9005, " ".join("1234567" for _ in range(80))),
        (9006, " ".join(f"the word{i} of and that have with be to" for i in range(12))),
        # 60 occurrences of ONE stopword: distinct-count semantics
        # score 1 (occurrence-count would score 60 and pass the gate)
        (9007, " ".join("the" for _ in range(60))),
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).union(spark.createDataFrame(edge, "doc_id long, text string"))
    got = (
        textstats.gopher_rules(docs)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )

    stop = ", ".join(f"'{w}'" for w in textstats.GOPHER_STOPWORDS)
    con = duckdb.connect()
    pdf = docs.toPandas()
    con.register("documents", pdf)
    want = con.sql(
        r"""
        WITH t AS (SELECT doc_id,  text,
            list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS toks,
            list_filter(regexp_split_to_array(text, '\n'), ln -> trim(ln, ' ') <> '') AS lines
          FROM documents),
        m AS (SELECT doc_id,
            len(toks) AS n_words, len(lines) AS n_lines,
            coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS word_chars,
            len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
            len(list_intersect(list_transform(toks, w -> lower(w)), [%s])) AS stop_hits,
            len(list_filter(lines, ln -> regexp_matches(trim(ln, ' '), '^([-*•])'))) AS bullet_lines,
            len(list_filter(lines, ln -> regexp_matches(trim(ln, ' '), '\.\.\.$'))) AS ellipsis_lines,
            length(text) - length(replace(text, '#', '')) AS hashes,
            (length(text) - length(replace(text, '...', ''))) // 3 AS ellipses
          FROM t),
        r AS (SELECT doc_id, CAST(n_words AS INT) AS n_words,
            round(CASE WHEN n_words > 0 THEN word_chars::DOUBLE / n_words ELSE 0 END, 6) AS mean_word_len,
            round(CASE WHEN n_words > 0 THEN (hashes + ellipses)::DOUBLE / n_words ELSE 0 END, 6) AS symbol_ratio,
            round(CASE WHEN n_lines > 0 THEN bullet_lines::DOUBLE / n_lines ELSE 0 END, 6) AS bullet_ratio,
            round(CASE WHEN n_lines > 0 THEN ellipsis_lines::DOUBLE / n_lines ELSE 0 END, 6) AS ellipsis_ratio,
            round(CASE WHEN n_words > 0 THEN alpha_words::DOUBLE / n_words ELSE 0 END, 6) AS alpha_word_ratio,
            CAST(stop_hits AS INT) AS stopword_hits
          FROM m)
        SELECT *, (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
            AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
            AND stopword_hits >= 2) AS keep
        FROM r ORDER BY doc_id
        """
        % stop
    ).df()
    want = want.sort_values("doc_id", ignore_index=True)
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    # the battery is non-trivial on this corpus: both verdicts occur
    assert got["keep"].any() and (~got["keep"]).any()
    # edge docs behave: empty fails with zeroed metrics; bullets/
    # ellipses/symbols/non-alpha each trip their rule
    row = got.set_index("doc_id")
    assert not row.loc[9001, "keep"] and row.loc[9001, "n_words"] == 0
    assert row.loc[9002, "bullet_ratio"] == 1.0
    assert row.loc[9003, "ellipsis_ratio"] == 0.75
    assert row.loc[9004, "symbol_ratio"] > 0.1
    assert row.loc[9005, "alpha_word_ratio"] == 0.0
    assert row.loc[9006, "keep"]
    assert row.loc[9007, "stopword_hits"] == 1 and not row.loc[9007, "keep"]


def test_c4_rules_line_and_page_semantics(spark):
    """C4 heuristics (Raffel et al. 2020 §2.2): terminal-punct lines
    with >=3 words survive, javascript lines drop, lorem-ipsum /
    curly-brace / short pages fail keep; bad_words is whole-word and
    case-insensitive."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    five_ok = "\n".join(f"this is sentence number {i}." for i in range(5))
    docs = spark.createDataFrame(
        [
            (1, five_ok),
            (2, five_ok + "\nenable JavaScript to continue."),
            (3, five_ok + "\nlorem ipsum dolor sit amet."),
            (4, five_ok + "\nfunction f() { return 1; }"),
            (5, "too short. page here."),
            (6, "no punct line at all\n" + five_ok),
            (7, "ok. ok?\nyes! it ends \"right.\"\n" + five_ok),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.c4_rules(docs).collect()}
    assert out[1].keep == 1 and out[1].n_lines_kept == 5
    assert out[1].clean_text == five_ok
    # javascript LINE drops but the page (5 other sentences) keeps
    assert out[2].keep == 1 and out[2].n_lines_kept == 5
    assert "JavaScript" not in out[2].clean_text
    assert out[3].keep == 0  # lorem ipsum page needle
    assert out[4].keep == 0  # curly brace page needle
    assert out[5].keep == 0 and out[5].n_lines_kept == 1  # < 5 sentences
    assert out[6].keep == 1  # punctless line dropped, page survives
    # "ok. ok?" has only 2 words -> drops; the closing-quote terminal
    # line survives
    assert out[7].n_lines_kept == 6
    assert out[7].clean_text.startswith('yes! it ends "right."')
    bad = {
        r.doc_id: r.keep
        for r in textstats.c4_rules(docs, bad_words=("SENTENCE",)).collect()
    }
    assert bad[1] == 0  # whole-word, case-insensitive hit
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_words_per_line"):
        textstats.c4_rules(docs, min_words_per_line=0)
    with _pytest.raises(ValueError, match="keep_cols"):
        textstats.c4_rules(docs, keep_cols=("keep",))


def test_c4_rules_matches_duckdb_oracle(spark, sf_dir):
    """c4_rules vs the DuckDB mirror over hand-built punctuated pages
    UNION the real (punctless — all lines drop, keep=0) documents
    table: clean_text bytes, counts, and verdicts all exact."""
    import duckdb

    from pagerank_mapreduce_implementation_spark import oracles
    from pagerank_mapreduce_implementation_spark.operators import textstats

    edge = [
        (9101, "\n".join(f"good sentence number {i} here." for i in range(6))),
        (9102, "one two.\nthis line is long enough!\nShort? no\nJAVASCRIPT required here.\nok fine then...\nanother proper sentence here.\nand one more for luck.\nplus a sixth good one."),
        (9103, ""),
        (9104, "braces { appear }\n" + "\n".join(f"s {i} x y." for i in range(6))),
        (9105, "Lorem Ipsum generator.\nreal sentence one here.\nreal sentence two here.\nreal sentence three here.\nreal sentence four here.\nreal sentence five here."),
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).union(spark.createDataFrame(edge, "doc_id long, text string"))
    got = (
        textstats.c4_rules(docs)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = (
        con.sql(oracles.c4_rules_sql())
        .df()
        .sort_values("doc_id", ignore_index=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert got["keep"].sum() >= 2  # both verdicts present


def test_gopher_repetition_semantics(spark):
    """Repetition battery (Rae et al. 2021 Table A1): dup-line
    fractions, top n-gram mass, overlap-safe dup n-gram coverage,
    empty-doc neutrality, keep verdicts."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),
            (2, "one two three four five one two three four five x"),
            (3, "line a\nline b\nline a\nline a\nline c"),
            (4, ""),
            (5, "w1 w2"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.gopher_repetition(docs).collect()}
    assert out[1].keep == 1 and out[1].dup_5gram_char_frac == 0.0
    # doc 2: the 5-gram "one two three four five" repeats; its two
    # occurrences cover tokens 1-10 of 11; token chars 3+3+5+4+4 = 19
    # per window, total chars 39 (incl 'x'); covered = 38/39
    assert out[2].dup_5gram_char_frac == round(38 / 39, 6)
    assert out[2].dup_6gram_char_frac == 0.0  # no 6-gram repeats
    assert out[2].keep == 0
    # doc 3: "line a" x3 -> 2 beyond-first of 5 lines
    assert out[3].dup_line_frac == 0.4
    assert out[3].keep == 0
    assert out[4].keep == 1 and out[5].keep == 1  # empty/short neutral
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_cols"):
        textstats.gopher_repetition(docs, keep_cols=("keep",))


def test_gopher_repetition_matches_duckdb_oracle(spark, sf_dir):
    """Parity against the RELATIONAL DuckDB mirror (unnest+GROUP BY vs
    the operator's per-row folds — two independent formulations) over
    hand-built repetition shapes UNION the real documents table (real
    n-gram dups, no lines)."""
    import duckdb
    import pandas as pd

    from pagerank_mapreduce_implementation_spark import oracles
    from pagerank_mapreduce_implementation_spark.operators import textstats

    edge = [
        (9201, "spam spam spam spam spam spam other words"),
        (9202, "one two three four five one two three four five x"),
        (9203, "line a\nline b\nline a\nline a\nline c\nsome more words here"),
        (9204, ""),
        (9205, "x y\nx y\nx y\nx y"),
        (9206, "p q r s t u v w p q r s t u v w p q r s t u v w"),
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    ).union(spark.createDataFrame(edge, "doc_id long, text string"))
    got = (
        textstats.gopher_repetition(docs)
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = (
        con.sql(oracles.gopher_repetition_sql())
        .df()
        .sort_values("doc_id", ignore_index=True)
    )
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert got["keep"].nunique() == 2  # both verdicts present


def test_dsir_weights_semantics_and_guards(spark):
    """DSIR (Xie et al. 2023): a doc written in the target's own
    vocabulary must outscore a doc written in off-target vocabulary;
    zero-gram docs drop; parameter guards fail loud."""
    from pagerank_mapreduce_implementation_spark.operators import sampling

    target = spark.createDataFrame(
        [(100 + i, "data selection via importance resampling works")
         for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "importance resampling selection data"),   # target-like
            (2, "zebra quux flarp gronk blib"),             # off-target
            (3, ""),                                        # zero grams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in sampling.dsir_weights(raw, target).collect()}
    assert set(got) == {1, 2}, "zero-gram doc must drop"
    assert got[1].log_weight > got[2].log_weight
    assert got[1].log_weight > 0 > got[2].log_weight
    assert got[1].n_grams == 7  # 4 unigrams + 3 bigrams

    import pytest as _pt
    with _pt.raises(ValueError, match="n_buckets"):
        sampling.dsir_weights(raw, target, n_buckets=1)
    with _pt.raises(ValueError, match="smoothing"):
        sampling.dsir_weights(raw, target, smoothing=0.0)
    with _pt.raises(ValueError, match="ngram_ns"):
        sampling.dsir_weights(raw, target, ngram_ns=())
    with _pt.raises(ValueError, match="k must be"):
        sampling.dsir_select(raw, target, k=0)


def test_dsir_select_is_weight_monotone_under_shared_noise(spark):
    """Gumbel top-k: with equal md5 coins impossible to construct, we
    pin the weaker invariant the trick guarantees — raising k only
    APPENDS to the selected set (nested top-k), and every selected
    score equals log_weight·ln10 + g(doc) recomputed independently."""
    import math

    from pagerank_mapreduce_implementation_spark.operators import sampling

    target = spark.createDataFrame(
        [(200 + i, "alpha beta gamma delta") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(i, ("alpha beta " * (i % 5 + 1)).strip()) for i in range(1, 21)],
        "doc_id long, text string",
    )
    s5 = {r.doc_id for r in sampling.dsir_select(raw, target, k=5).collect()}
    s12 = {r.doc_id for r in sampling.dsir_select(raw, target, k=12).collect()}
    assert s5 < s12
    row = sampling.dsir_select(raw, target, k=1).collect()[0]
    w = {r.doc_id: r.log_weight
         for r in sampling.dsir_weights(raw, target).collect()}
    # recompute the coin exactly like _hash_uniform
    import hashlib
    u = int(hashlib.md5(f"dsir-gumbel:{row.doc_id}".encode()).hexdigest()[:13], 16) / float(1 << 52)
    expect = round(w[row.doc_id] * 2.302585092994046 - math.log(-math.log(u)), 6)
    assert row.score == expect


def test_bigram_lm_scores_hand_case(spark):
    """add-1 bigram LM on a 2-doc corpus, hand-derived: V=3,
    c('a','b')=3 (2 from doc1, 1 from doc2), c('a')=3, c('b','a')=1.
    Docs with <2 tokens drop."""
    import math

    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textstats.bigram_lm_scores(docs).collect()}
    assert set(got) == {1, 2}
    # corpus bigrams: doc1 (a,b),(b,a),(a,b); doc2 (a,b),(b,c)
    # c2: (a,b)=3 (b,a)=1 (b,c)=1 ; c1: a=3 b=2 ; V=4 (a,b,c,solo)
    p_ab = (3 + 1) / (3 + 1 * 4)
    p_ba = (1 + 1) / (2 + 1 * 4)
    p_bc = (1 + 1) / (2 + 1 * 4)
    nll1 = round(-(2 * math.log10(p_ab) + math.log10(p_ba)) / 3, 6)
    nll2 = round(-(math.log10(p_ab) + math.log10(p_bc)) / 2, 6)
    assert got[1].n_bigrams == 3 and got[1].nll == nll1
    assert got[2].n_bigrams == 2 and got[2].nll == nll2

    import pytest as _pt
    with _pt.raises(ValueError, match="add_k"):
        textstats.bigram_lm_scores(docs, add_k=0.0)


def test_entropy_stats_known_values(spark):
    """Entropy edge geometry: empty -> zeros; one repeated char -> 0
    bits; uniform alphabet -> log2(n_distinct) bits; keep_cols ride
    through; unknown keep_cols fail loud."""
    import math

    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [(1, "", "s0"), (2, "aaaa", "s1"), (3, "abcd", "s2"),
         (4, "aab", "s3")],
        "doc_id long, text string, source string",
    )
    got = {r.doc_id: r for r in
           textstats.entropy_stats(docs, keep_cols=("source",)).collect()}
    assert got[1].n_chars == 0 and got[1].char_entropy == 0.0
    assert got[1].n_distinct_chars == 0
    assert got[2].char_entropy == 0.0 and got[2].n_distinct_chars == 1
    assert got[3].char_entropy == 2.0 and got[3].n_distinct_chars == 4
    h = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert got[4].char_entropy == round(h, 6)
    assert got[3].source == "s2"

    import pytest as _pt
    with _pt.raises(ValueError):
        textstats.entropy_stats(docs, keep_cols=("n_chars",))


def test_bloom_filter_no_false_negatives_and_fp_rate(spark):
    """Bloom invariants: every built item probes true (no false
    negatives ever); a disjoint probe set at ~10 bits/item k=4 shows
    a small false-positive rate; parameter guards fail loud; filters
    MERGE by cell-wise bit_or."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators.sketches import (
        bloom_filter_probe,
        bloom_filter_table,
    )

    members = spark.createDataFrame(
        [(f"item-{i}",) for i in range(300)], "item string"
    )
    others = spark.createDataFrame(
        [(f"other-{i}",) for i in range(300)], "item string"
    )
    flt = bloom_filter_table(members, "item", n_bits=3200, n_hashes=4)
    assert flt.count() <= 3200 // 32
    got_m = bloom_filter_probe(members, flt, "item", n_bits=3200, n_hashes=4)
    assert got_m.filter(~F.col("maybe_member")).count() == 0
    got_o = bloom_filter_probe(others, flt, "item", n_bits=3200, n_hashes=4)
    fp = got_o.filter(F.col("maybe_member")).count()
    assert fp < 30  # ~1-2% expected at 10.7 bits/item, k=4

    # mergeability: filter(A) OR filter(B) == filter(A ∪ B), cell-wise
    fa = bloom_filter_table(members, "item", n_bits=3200, n_hashes=4)
    fb = bloom_filter_table(others, "item", n_bits=3200, n_hashes=4)
    merged = (
        fa.unionByName(fb).groupBy("word").agg(F.bit_or("bits").alias("bits"))
    )
    direct = bloom_filter_table(
        members.unionByName(others), "item", n_bits=3200, n_hashes=4
    )
    assert (
        merged.join(direct, "word")
        .filter(merged["bits"] != direct["bits"])
        .count()
        == 0
    )
    assert merged.count() == direct.count()

    with _pt.raises(ValueError, match="n_bits"):
        bloom_filter_table(members, "item", n_bits=100)
    with _pt.raises(ValueError, match="n_hashes"):
        bloom_filter_probe(members, flt, "item", n_hashes=0)


def test_quality_classifier_learns_separable_labels(spark):
    """LR trainer end-to-end on a cleanly separable corpus: long
    wordy docs labeled 1, short ones 0 — near-perfect accuracy after
    standardized GD; guards fail loud; empty corpus raises."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog and runs far "
             * 8) for i in range(30)]
        + [(100 + i, "ok bye") for i in range(30)],
        "doc_id long, text string",
    )
    out = textstats.quality_classifier_scores(
        docs, F.size(F.split("text", " ")) > 50, n_iters=15,
        learning_rate=1.0,
    ).collect()
    acc = sum(1 for r in out if r.predicted == (r.label == 1)) / len(out)
    assert acc >= 0.95
    # scores are calibrated-ish: positives above negatives
    pos = [r.score for r in out if r.label == 1]
    neg = [r.score for r in out if r.label == 0]
    assert min(pos) > max(neg)

    w = textstats.train_quality_classifier(
        docs, F.size(F.split("text", " ")) > 50, n_iters=3
    )
    assert len(w) == 1 + len(textstats.QUALITY_CLF_FEATURES)

    with _pt.raises(ValueError, match="n_iters"):
        textstats.train_quality_classifier(docs, F.lit(True), n_iters=0)
    with _pt.raises(ValueError, match="learning_rate"):
        textstats.train_quality_classifier(
            docs, F.lit(True), learning_rate=0.0
        )
    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pt.raises(ValueError, match="empty corpus"):
        textstats.train_quality_classifier(empty, F.lit(True))


def test_incremental_exact_dedup_drops_stored_and_in_batch_dups(spark):
    """A batch against a fingerprint store: docs whose fingerprint the
    store holds drop, an in-batch duplicate keeps its lower doc_id, and
    novel docs survive."""
    from pyspark.sql import functions as F

    from pagerank_mapreduce_implementation_spark.operators import dedup

    seen_docs = spark.createDataFrame(
        [(i, f"stored document body number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    store = seen_docs.select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("fingerprint")
    )
    # batch: 30 dups of stored docs, 70 novel, plus an in-batch dup
    batch = spark.createDataFrame(
        [(1000 + i, f"stored document body number {i}") for i in range(30)]
        + [(2000 + i, f"fresh text {i}") for i in range(70)]
        + [(3000, "fresh text 0")],
        "doc_id long, text string",
    )
    plain = {
        r.doc_id
        for r in dedup.incremental_exact_dedup(batch, store).collect()
    }
    assert all(d >= 2000 for d in plain) and len(plain) == 70


def test_novelty_scores_semantics(spark):
    """Novelty geometry: a doc sharing every 3-gram with another
    scores 0; a fully unique doc scores 1; partial overlap lands at
    the exact fraction; short docs (< n tokens) drop; n guard."""
    import pytest as _pt

    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),           # grams abc bcd cde (shared with 2)
            (2, "a b c d e"),           # exact copy -> both 0.0
            (3, "x y z w v"),           # fully unique -> 1.0
            (4, "a b c q r s"),         # abc shared; bcq cqr qrs unique
            (5, "one two"),             # < 3 tokens -> dropped
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textstats.novelty_scores(docs, n=3).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1].novel_frac == 0.0 and got[2].novel_frac == 0.0
    assert got[3].novel_frac == 1.0 and got[3].n_grams == 3
    assert got[4].novel_frac == 0.75 and got[4].n_grams == 4

    with _pt.raises(ValueError, match="n must be"):
        textstats.novelty_scores(docs, n=0)


def test_pack_bins_doc_spans_boundary_map(spark):
    """doc_spans geometry on a hand-built corpus (budget 4): doc
    boundaries land at their in-bin offsets, a doc straddling in from
    the previous bin contributes its 0: continuation entry, and
    with_doc_spans=False output is unchanged."""
    from pagerank_mapreduce_implementation_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (3, "g h")],
        "doc_id long, text string",
    )
    # stream: a b c | d e f | g h -> bins of 4:
    # bin0 = a b c d (doc1@0, doc2@3), bin1 = e f g h (doc2@0 cont.,
    # doc3@2)
    out = {
        r.bin_id: r
        for r in t.pack_bins(
            docs, budget=4, bucket_size=64, with_doc_spans=True
        ).collect()
    }
    assert out[0].text == "a b c d" and out[0].doc_spans == "0:1;3:2"
    assert out[1].text == "e f g h" and out[1].doc_spans == "0:2;2:3"
    assert out[0].n_docs == 2 and out[1].n_docs == 2

    plain = {
        r.bin_id: r
        for r in t.pack_bins(docs, budget=4, bucket_size=64).collect()
    }
    assert set(plain[0].asDict()) == {"bin_id", "n_tokens", "n_docs", "text"}
    assert plain[0].text == out[0].text and plain[1].text == out[1].text


def test_top_fraction_per_group_semantics(spark):
    """Proportional quota: ceil(frac*n) per group, every non-empty
    group keeps >= 1 row, ties cut deterministically by the key, and
    the frac guard fails loud."""
    import pytest as _pt

    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        top_fraction_per_group,
    )

    rows = (
        [(i, "big", float(i)) for i in range(10)]          # 10 rows
        + [(100 + i, "small", 1.0) for i in range(3)]      # 3 tied rows
        + [(200, "solo", 0.5)]                             # 1 row
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    got = top_fraction_per_group(df, 0.3, "score", "source").collect()
    by = {}
    for r in got:
        by.setdefault(r.source, set()).add(r.doc_id)
    assert by["big"] == {7, 8, 9}          # ceil(0.3*10)=3, best scores
    assert by["small"] == {100}            # ceil(0.3*3)=1, tie -> min id
    assert by["solo"] == {200}             # ceil(0.3*1)=1 — never empty
    with _pt.raises(ValueError, match="frac"):
        top_fraction_per_group(df, 0.0, "score", "source")
    with _pt.raises(ValueError, match="frac"):
        top_fraction_per_group(df, 1.5, "score", "source")


class TestInvertedIndex:
    """text.build_inverted_index — positional postings + sharding."""

    def test_postings_match_brute_force(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import text

        docs = spark.createDataFrame(
            [(1, "a b a  c"), (2, "b b"), (3, "c")],
            "doc_id INT, text STRING",
        )
        out = {
            r["word"]: (r["df"], r["shard"], r["postings"])
            for r in text.build_inverted_index(docs).collect()
        }
        # 'a b a  c': split on \s+ gives slots [a,b,a,c] -> positions
        # are raw slot indices 0,1,2,3
        assert out["a"] == (1, 0, "1:0,2")
        assert out["b"] == (2, 0, "1:1;2:0,1")
        assert out["c"] == (2, 0, "1:3;3:0")

    def test_shard_union_equals_unsharded(self, spark, sf_dir):
        """Sharded postings are a partition of the unsharded ones:
        per word, the multiset of doc:pl entries across shards equals
        the single-shard entries, df is the full document frequency on
        every shard row, and no shard exceeds its bound by more than
        the hash skew allows (hard cap: every doc present exactly
        once)."""
        from pagerank_mapreduce_implementation_spark.operators import text
        from pagerank_mapreduce_implementation_spark.sources import Catalog

        docs = Catalog(spark, sf_dir).documents
        flat = {
            r["word"]: (r["df"], r["postings"])
            for r in text.build_inverted_index(docs).collect()
        }
        sharded = {}
        for r in text.build_inverted_index(docs, shard_size=7).collect():
            df, entries = sharded.setdefault(r["word"], (r["df"], []))
            assert df == r["df"]
            entries.extend(r["postings"].split(";"))
        assert set(sharded) == set(flat)
        for w, (df, entries) in sharded.items():
            assert df == flat[w][0]
            assert sorted(entries, key=lambda e: int(e.split(":")[0])) == flat[w][
                1
            ].split(";")

    def test_shard_size_guard(self, spark):
        import pytest

        from pagerank_mapreduce_implementation_spark.operators import text

        docs = spark.createDataFrame([(1, "a")], "doc_id INT, text STRING")
        with pytest.raises(ValueError, match="positive"):
            text.build_inverted_index(docs, shard_size=0)


class TestPerplexityBuckets:
    """textstats.perplexity_buckets — per-source ntile over bigram nll."""

    def test_bucket_order_and_names(self, spark):
        # one source, 6 scoreable docs; repetitive docs score lower nll
        # under the self-trained bigram LM than one-off word salads
        rows = [
            (1, "a b a b a b a b", "s1"),
            (2, "a b a b a b", "s1"),
            (3, "a b a b", "s1"),
            (4, "c d e f g", "s1"),
            (5, "h i j k l", "s1"),
            (6, "m n o p q", "s1"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r["doc_id"]: r for r in textstats.perplexity_buckets(docs).collect()}
        assert len(out) == 6
        # ntile(3) over 6 rows: two per bucket, ordered by (nll, doc_id)
        by_bucket = sorted(out.values(), key=lambda r: (r["nll"], r["doc_id"]))
        assert [r["bucket"] for r in by_bucket] == [1, 1, 2, 2, 3, 3]
        names = {r["bucket"]: r["bucket_name"] for r in out.values()}
        assert names == {1: "head", 2: "middle", 3: "tail"}
        # hand-computed nll order: the a/b docs (shared, frequent
        # bigrams) rank 3 < 2 < 1 — the mean nll improves with the
        # doc's a-b (9 occurrences) vs b-a (6) mix — then the three
        # one-off word salads (each bigram seen once) trail far behind
        assert out[3]["bucket"] == 1 and out[2]["bucket"] == 1
        assert out[5]["bucket"] == 3 and out[6]["bucket"] == 3

    def test_buckets_are_per_source(self, spark):
        rows = [
            (1, "a b a b", "s1"),
            (2, "c d e f", "s1"),
            (3, "a b a b", "s2"),
            (4, "c d e f", "s2"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {
            r["doc_id"]: r["bucket"]
            for r in textstats.perplexity_buckets(docs, n_buckets=2).collect()
        }
        # each source gets its own full 1..2 range
        assert out == {1: 1, 2: 2, 3: 1, 4: 2}

    def test_short_docs_absent_and_guards(self, spark):
        rows = [(1, "one", "s1"), (2, "", "s1"), (3, "a b", "s1")]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = textstats.perplexity_buckets(docs).collect()
        assert [r["doc_id"] for r in out] == [3]
        assert out[0]["bucket_name"] == "head"
        with pytest.raises(ValueError):
            textstats.perplexity_buckets(docs, n_buckets=0)

    def test_non_three_bucket_names(self, spark):
        rows = [(1, "a b", "s1"), (2, "c d", "s1")]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = textstats.perplexity_buckets(docs, n_buckets=2).collect()
        assert sorted(r["bucket_name"] for r in out) == ["b1", "b2"]


class TestTfidfDocPairs:
    """text.tfidf_doc_pairs — df-capped sparse cosine pairs."""

    def test_identical_docs_cosine_one(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import text

        rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zz yy xx")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r["doc_a"], r["doc_b"]): r["cosine"]
            for r in text.tfidf_doc_pairs(docs, threshold=0.1).collect()
        }
        assert out == {(1, 2): pytest.approx(1.0)}

    def test_df_cap_drops_ubiquitous_terms(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import text

        # 'the' appears in all 3 docs; with max_df=2 it cannot pair
        # anything, so the only shared signal is doc 1/2's 'alpha'
        rows = [(1, "the alpha"), (2, "the alpha"), (3, "the omega")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in text.tfidf_doc_pairs(docs, max_df=2, threshold=0.0).collect()
        }
        assert pairs == {(1, 2)}

    def test_threshold_and_guard(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import text

        rows = [(1, "alpha beta"), (2, "alpha zz")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        # shared 'alpha' but each vector dominated by its unique term
        low = text.tfidf_doc_pairs(docs, threshold=0.99).collect()
        assert low == []
        with pytest.raises(ValueError):
            text.tfidf_doc_pairs(docs, max_df=1)


class TestPricingGroupingSets:
    """relational.pricing_grouping_sets — one Expand pass, three sets."""

    def test_grouping_levels(self, spark):
        from pagerank_mapreduce_implementation_spark.operators import relational

        rows = [
            ("A", "F", "1995-03-15", 100.0, 0.1),
            ("A", "O", "1995-07-01", 200.0, 0.0),
            ("R", "F", "1996-01-01", 50.0, 0.2),
        ]
        li = spark.createDataFrame(
            rows,
            "l_returnflag string, l_linestatus string, l_shipdate string, "
            "l_extendedprice double, l_discount double",
        ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
        out = relational.pricing_grouping_sets(li).collect()
        # 3 (flag, status) + 2 (flag, year) + 1 grand total
        assert len(out) == 6
        fs = [r for r in out if r["l_linestatus"] is not None]
        assert len(fs) == 3 and all(r["ship_year"] is None for r in fs)
        grand = [r for r in out if r["l_returnflag"] is None]
        assert len(grand) == 1 and grand[0]["n_items"] == 3
        assert grand[0]["revenue"] == pytest.approx(100 * 0.9 + 200 + 50 * 0.8)
        # the (flag, year) set rolls both statuses of flag A together
        ay = [
            r
            for r in out
            if r["l_returnflag"] == "A" and r["ship_year"] == 1995
        ]
        assert len(ay) == 1 and ay[0]["n_items"] == 2
