"""Behavioral tests for dedup operators: recall on planted duplicates,
not just oracle agreement (the oracle can't tell us the operator finds
what it should — these fixtures can)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pagerank_mapreduce_implementation_spark.operators import dedup


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "THE  Quick Brown   fox jumps over the lazy dog"),  # exact after norm
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_normalizes(spark, planted):
    out = {r["doc_id"]: r for r in dedup.exact_dedup(planted).collect()}
    assert out[2]["keeper"] == 1 and out[2]["is_dup"] == 1
    assert out[5]["keeper"] == 1 and out[5]["is_dup"] == 1  # case/whitespace
    assert out[3]["is_dup"] == 0  # near-dup is NOT an exact dup
    assert out[4]["is_dup"] == 0


def test_incremental_exact_dedup(spark, planted):
    # seen store = fingerprints of docs 1-2 (one distinct fingerprint);
    # new batch = docs 3-5: 5 collides with the store (normalized dup
    # of 1), 3 and 4 are genuinely new
    seen = (
        dedup.exact_dedup(planted.filter("doc_id <= 2"))
        .select("fingerprint")
        .distinct()
    )
    batch = planted.filter("doc_id >= 3")
    out = {r["doc_id"] for r in dedup.incremental_exact_dedup(batch, seen).collect()}
    assert out == {3, 4}
    # in-batch rule: two copies inside one batch keep only the min id
    batch2 = spark.createDataFrame(
        [(7, "same text"), (8, "same text"), (9, "other")],
        "doc_id long, text string",
    )
    empty_seen = seen.filter("1 = 0")
    out2 = {r["doc_id"] for r in dedup.incremental_exact_dedup(batch2, empty_seen).collect()}
    assert out2 == {7, 9}


def test_minhash_finds_planted_near_dup(spark, planted):
    # bands=8 (r=2): collision threshold ~(1/8)^(1/2)=0.35 — right for
    # catching 0.5-jaccard pairs. The default bands=4 targets ~0.7+ and
    # misses some 0.78 pairs (band-limited recall, by design).
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.minhash_near_dups(planted, threshold=0.5, bands=8).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.7  # 1-word edit
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_exact_recall(spark, planted):
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(planted, 0.4, 3).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_simhash_hamming_zero_for_exact(spark, planted):
    out = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_near_dups(planted, max_hamming=10).collect()
    }
    assert out[(1, 2)] == 0  # identical token multiset
    assert (1, 3) in out  # near dup within 10 bits


def test_error_and_empty_paths(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    # empty corpora flow through every dedup op with stable schemas
    assert dedup.exact_dedup(empty).count() == 0
    assert dedup.minhash_near_dups(empty, 0.5).count() == 0
    assert dedup.ngram_jaccard_pairs(empty, 0.5).count() == 0
    assert dedup.simhash_near_dups(empty).count() == 0
    # bands that don't divide num_hashes would silently drop rows
    with pytest.raises(ValueError, match="evenly divide"):
        dedup.minhash_near_dups(empty, 0.5, bands=3)


def test_pagerank_error_and_empty_paths(spark):
    from pagerank_mapreduce_implementation_spark.operators import graph

    empty = spark.createDataFrame([], "src string, dst string")
    out = graph.pagerank(empty, n_iters=2)
    assert out.count() == 0 and out.columns == ["url", "rank"]
    with pytest.raises(ValueError, match="unknown mode"):
        graph.pagerank(empty, n_iters=1, mode="nonsense")


def test_similarity_empty_paths(spark):
    from pagerank_mapreduce_implementation_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert similarity.cosine_topk(empty, 0).count() == 0
    assert similarity.cosine_pairs_lsh(empty, 0.5).count() == 0
    assert similarity.ivf_topk(empty, 0).count() == 0


def test_shingles_ngram_windows(spark):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    got = sorted(r["shingle"] for r in dedup.shingles(docs, 3).collect())
    assert got == ["a b c", "b c d"]
    # shorter than n -> no shingles
    docs2 = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert dedup.shingles(docs2, 3).count() == 0


def test_exact_dedup_matches_python_model(spark, planted):
    """The window plan equals a Python model row for row — on the
    planted fixture AND on a corpus with a deliberately hot
    fingerprint: the fingerprint is md5 of the lowercased,
    whitespace-collapsed, trimmed text (so identical texts share one),
    the keeper is the group's min doc_id and ``is_dup`` marks every
    other member."""
    import hashlib
    import random
    import re

    def model(rows):
        fps = {
            d: hashlib.md5(
                re.sub(r"[ \t\n\x0b\f\r]+", " ", t).strip(" ").lower().encode()
            ).hexdigest()
            for d, t in rows
        }
        keeper = {}
        for d, fp in fps.items():
            keeper[fp] = min(d, keeper.get(fp, d))
        return sorted(
            (d, fp, keeper[fp], int(d != keeper[fp])) for d, fp in fps.items()
        )

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    planted_rows = [(r["doc_id"], r["text"]) for r in planted.collect()]
    assert rows_of(dedup.exact_dedup(planted)) == model(planted_rows)

    rng = random.Random(17)
    # 300 rows, ~60% of them the SAME text (the hot-fingerprint case),
    # rest drawn from 20 templates
    hot = "boilerplate cookie banner accept all cookies"
    corpus = [
        (i, hot if rng.random() < 0.6 else f"doc variant {rng.randrange(20)}")
        for i in range(300)
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = rows_of(dedup.exact_dedup(docs))
    assert got == model(corpus) and len(got) == 300


def test_ngram_containment_catches_embedded_doc(spark):
    """A small doc fully embedded in a large one: Jaccard ~small,
    containment == 1.0 — the asymmetric operator's reason to exist."""
    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "unrelated text entirely different")],
        "doc_id long, text string",
    )
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(docs, 0.5, ngram=3).collect()
    }
    assert cont[(1, 2)] == 1.0  # every 3-gram of the small doc is in the big
    assert (1, 3) not in cont and (2, 3) not in cont
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, 0.0001, ngram=3).collect()
    }
    assert jac[(1, 2)] < 0.05  # symmetric Jaccard would have missed it


def _hot_shingle_corpus(spark):
    """Adversarial stop-shingle corpus: every doc opens with the same
    boilerplate (one ubiquitous 3-gram run), then unique content — the
    shape that makes an uncapped shingle self-join quadratic."""
    boiler = "accept all cookies"
    rows = [
        (i, f"{boiler} unique{i} content{i} here{i} body{i}") for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), boiler


def test_df_cap_bounds_candidate_volume(spark):
    """df_capped_shingles provably bounds the pair join: after the cap,
    no shingle's doc list exceeds max_df, so candidate pairs are
    sum-over-shingles C(df,2) <= n_shingles*C(max_df,2) — the one
    ubiquitous shingle can no longer contribute C(corpus,2)."""
    docs, _ = _hot_shingle_corpus(spark)
    sh = dedup.shingles(docs, n=3)
    from pyspark.sql import functions as F

    cap = 4
    capped = dedup.df_capped_shingles(sh, cap)
    dfreq = capped.groupBy("shingle").agg(F.count(F.lit(1)).alias("d")).collect()
    assert dfreq and all(r["d"] <= cap for r in dfreq)
    capped_pairs = sum(r["d"] * (r["d"] - 1) // 2 for r in dfreq)
    uncapped = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("d")).collect()
    uncapped_pairs = sum(r["d"] * (r["d"] - 1) // 2 for r in uncapped)
    # the hot shingle alone contributes C(40,2)=780 uncapped candidates
    assert uncapped_pairs >= 780
    assert capped_pairs <= len(dfreq) * cap * (cap - 1) // 2
    assert capped_pairs < uncapped_pairs / 10
    with pytest.raises(ValueError):
        dedup.df_capped_shingles(sh, 0)


def test_df_cap_drops_boilerplate_only_pairs(spark):
    """Docs that share ONLY the ubiquitous boilerplate shingles stop
    pairing under the cap (their sole shared signal is df-capped away);
    genuinely near-dup docs still pair."""
    docs, _ = _hot_shingle_corpus(spark)
    uncapped = dedup.ngram_jaccard_pairs(docs, 0.0001, ngram=3)
    capped = dedup.ngram_jaccard_pairs(docs, 0.0001, ngram=3, max_shingle_df=4)
    assert uncapped.count() == 40 * 39 // 2  # every pair shares the boilerplate
    assert capped.count() == 0
    cont = dedup.ngram_containment_pairs(docs, 0.0001, ngram=3, max_shingle_df=4)
    assert cont.count() == 0


def test_df_capped_scores_match_duckdb_oracle(spark):
    """Capped operator == capped oracle SQL, exact equality, on an
    adversarial corpus where the cap actually drops shingles (the sf
    corpora have no hot shingles, so the driver gate alone never
    exercises the capped branch's arithmetic)."""
    import duckdb

    from pagerank_mapreduce_implementation_spark import oracles

    boiler = "accept all cookies please now"
    rows = [
        # 1,2 are near-dups sharing real content + boilerplate; 3..12 share
        # ONLY the boilerplate with everyone
        (1, f"{boiler} alpha beta gamma delta epsilon zeta"),
        (2, f"{boiler} alpha beta gamma delta epsilon eta"),
    ] + [(i, f"{boiler} unique{i} filler{i} pad{i} x{i}") for i in range(3, 13)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pdf = docs.toPandas()
    con = duckdb.connect()
    con.register("documents", pdf)
    for fn, sql_fn, col in [
        (dedup.ngram_jaccard_pairs, oracles.ngram_jaccard_sql, "jaccard"),
        (dedup.ngram_containment_pairs, oracles.ngram_containment_sql, "containment"),
    ]:
        got = {
            (r["doc_a"], r["doc_b"]): r[col]
            for r in fn(docs, 0.0001, ngram=3, max_shingle_df=3).collect()
        }
        want = {
            (a, b): v
            for a, b, v in con.execute(
                sql_fn(0.0001, 3, max_shingle_df=3)
            ).fetchall()
        }
        assert got == want and got  # non-empty: the near-dup pair survives
        assert (1, 2) in got


def test_incremental_minhash_dedup_planted(spark):
    """Signature-store ingestion: a batch doc near-identical to a
    stored doc is dropped as dup_of_store; two near-identical NEW docs
    keep the smaller id and flag the larger as dup_of_batch; novel
    content keeps. bands=8 for the ~0.35 collision threshold (same
    recall reasoning as test_minhash_finds_planted_near_dup)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    store_docs = spark.createDataFrame(
        [(1, base), (2, "completely different stored content about engines")],
        "doc_id long, text string",
    )
    seen = dedup.minhash_signatures(dedup.shingles(store_docs, 3), 16)
    batch = spark.createDataFrame(
        [
            (10, base),  # exact text of stored doc 1
            (11, "brand new unique material nothing like anything else one"),
            (12, "fresh pair of matching documents with shared phrasing here"),
            (13, "fresh pair of matching documents with shared phrasing here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.incremental_minhash_dedup(
            batch, seen, threshold=0.5, ngram=3, bands=8
        ).collect()
    }
    assert out[10]["dup_of_store"] == 1 and out[10]["keep"] == 0
    assert out[11]["keep"] == 1
    assert out[12]["dup_of_batch"] == 0 and out[12]["keep"] == 1  # smaller id
    assert out[13]["dup_of_batch"] == 1 and out[13]["keep"] == 0


def test_rowwise_signatures_equal_shuffle_path(spark):
    """dedup.rowwise_minhash_signatures (stateless per-row arrays, the
    streaming-probe form) must be BIT-IDENTICAL to minhash_signatures
    (explode + groupBy shuffle) on randomized corpora — including docs
    with repeated shingles (min is duplicate-insensitive) and docs too
    short to shingle (both paths emit no row)."""
    import random

    rng = random.Random(41)
    vocab = [f"w{i}" for i in range(9)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 20))))
        for i in range(40)
    ] + [(100, "a b"), (101, "")]  # too short for ngram=3 / empty
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for ngram in (1, 3):
        shuffle = sorted(
            map(tuple, dedup.minhash_signatures(
                dedup.shingles(docs, ngram), 16
            ).collect())
        )
        rowwise = sorted(
            map(tuple, dedup.rowwise_minhash_signatures(
                docs, ngram
            ).collect())
        )
        assert rowwise == shuffle, f"ngram={ngram}"
        assert rowwise  # non-degenerate
    # the short/empty docs appear in neither
    ids = {t[0] for t in rowwise}
    assert 101 not in ids


def test_streaming_minhash_probe_stateless_plan(spark, tmp_path):
    """The streaming probe's pre-aggregation stage must be STATELESS:
    no shuffle exchange on the stream side before the final per-doc
    min (signatures are per-row expressions; the store joins in as a
    broadcast). Checked on the batch-equivalent plan of the production
    composition — store signatures read from parquet, the layout
    clean_corpus persists — where the ONLY exchange left in the whole
    plan is the final per-doc aggregation."""
    from pagerank_mapreduce_implementation_spark.streaming.queries import (
        streaming_minhash_probe,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 5} w{(i + 1) % 5} w{(i + 2) % 5} x y z") for i in range(30)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "sigs")
    dedup.minhash_signatures(dedup.shingles(docs, 3), 16).write.parquet(store)
    out = streaming_minhash_probe(
        docs, spark.read.parquet(store), threshold=0.2, ngram=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1
    # and it resolves to real matches (every doc matches itself's twin
    # set at this permissive threshold)
    assert out.count() > 0


def test_prefix_filter_equals_naive_on_random_corpora(spark):
    """ngram_jaccard_prefix_pairs == ngram_jaccard_pairs (naive exact)
    row-for-row on randomized corpora and across thresholds — prefix
    filtering must be a pure candidate pruning, never a recall change."""
    import random

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 14))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    n_pairs_low_t = None
    for t in (0.1, 0.2, 0.5, 0.8):
        naive = rows_of(dedup.ngram_jaccard_pairs(docs, t, ngram=2))
        pref = rows_of(dedup.ngram_jaccard_prefix_pairs(docs, t, ngram=2))
        assert pref == naive, f"threshold {t}"
        if n_pairs_low_t is None:
            n_pairs_low_t = len(naive)
    assert n_pairs_low_t  # the loosest threshold exercised real pairs


def test_prefix_filter_excludes_boilerplate_from_prefixes(spark):
    """On the hot-shingle corpus the ubiquitous boilerplate shingles
    stay OUT of every sizable doc's prefix (they are the most common,
    prefixes hold the rarest), so the prefix join's hottest key is a
    rare shingle — while output still equals the naive join's."""
    docs, _ = _hot_shingle_corpus(spark)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    naive = rows_of(dedup.ngram_jaccard_pairs(docs, 0.0001, ngram=3))
    pref = rows_of(dedup.ngram_jaccard_prefix_pairs(docs, 0.0001, ngram=3))
    assert pref == naive and len(naive) == 40 * 39 // 2
    # at a threshold where boilerplate-only overlap can't qualify,
    # prefixes prune the candidate space to nothing
    assert dedup.ngram_jaccard_prefix_pairs(docs, 0.9, ngram=3).count() == 0


def _cached_rdd_ids(spark):
    return {
        int(info.id())
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


@pytest.mark.slow  # r17 fast-tier split: >10 s sweep, see pytest.ini
def test_materialized_results_are_releasable_by_direct_callers(spark, planted):
    """Round-7 verdict item 4: the eager-checkpoint returns must be
    releasable WITHOUT going through programs.clean_corpus. Contract:
    each result pins exactly its checkpoint (release_result frees it
    and every internal persist is already gone)."""
    from pagerank_mapreduce_implementation_spark.util import release_result

    ops = [
        lambda: dedup.minhash_near_dups(planted, 0.5, ngram=3),
        lambda: dedup.ngram_jaccard_pairs(planted, 0.5, ngram=3),
        lambda: dedup.ngram_jaccard_prefix_pairs(planted, 0.5, ngram=3),
        lambda: dedup.ngram_containment_pairs(planted, 0.5, ngram=3),
        lambda: dedup.simhash_near_dups(planted, 60),
        lambda: dedup.incremental_minhash_dedup(
            planted.filter("doc_id >= 3"),
            dedup.minhash_signatures(
                dedup.shingles(planted.filter("doc_id <= 2"), 3)
            ),
            threshold=0.5,
            ngram=3,
        ),
    ]
    # NB: compare via set DIFFERENCE, not equality — Spark's
    # ContextCleaner may concurrently unpersist RDDs dropped by earlier
    # tests, shrinking the baseline mid-assert
    for build in ops:
        before = _cached_rdd_ids(spark)
        out = build()
        out.collect()
        assert _cached_rdd_ids(spark) - before  # checkpoint is pinned
        release_result(out)
        assert not _cached_rdd_ids(spark) - before  # ... and released


def test_phash_near_dups_releasable(spark):
    from pagerank_mapreduce_implementation_spark.operators import multimodal
    from pagerank_mapreduce_implementation_spark.util import release_result

    blobs = spark.createDataFrame(
        [(i, multimodal.phash_test_image(i)) for i in range(6)],
        "doc_id long, content binary",
    )
    before = _cached_rdd_ids(spark)
    out = multimodal.phash_near_dups(blobs)
    assert out.collect()
    assert _cached_rdd_ids(spark) - before
    release_result(out)
    assert not _cached_rdd_ids(spark) - before


def test_ks_drift_leaves_no_pinned_cache(spark):
    """ks_drift persists its per-value aggregate for the run and must
    release it on EVERY exit (round-14 advice: try/finally, matching
    the dedup recall-audit discipline) — the success path leaves only
    the returned one-row checkpoint pinned, freed by release_result."""
    from pagerank_mapreduce_implementation_spark.operators import relational
    from pagerank_mapreduce_implementation_spark.util import release_result

    old = spark.range(100).selectExpr("cast(id as double) as v")
    new = spark.range(50, 180).selectExpr("cast(id * 1.5 as double) as v")
    before = _cached_rdd_ids(spark)
    out = relational.ks_drift(old, new, value_col="v", n_buckets=8)
    assert out.count() == 1
    release_result(out)
    assert not _cached_rdd_ids(spark) - before


def test_incremental_minhash_band_validation_divisibility(spark, planted):
    """Round-8 advice: when bands does not divide num_hashes, the
    band validation path must raise band_buckets' clear divisibility
    error up front — not build a truncated expected set and report a
    misleading 'mismatched index'."""
    sigs = dedup.minhash_signatures(dedup.shingles(planted, 3))
    some_bands = dedup.band_buckets(sigs, bands=4)
    with pytest.raises(ValueError, match="evenly divide"):
        dedup.incremental_minhash_dedup(
            planted, sigs, ngram=3, bands=3, seen_bands=some_bands
        )


def test_incremental_minhash_rejects_mismatched_band_index(spark, planted):
    """Round-7 verdict item 6: a seen_bands index built under different
    banding parameters never matches the probe's bucket strings — every
    store candidate silently vanishes. The probe must refuse it."""
    sigs = dedup.minhash_signatures(dedup.shingles(planted, 3))
    wrong_bands = dedup.band_buckets(sigs, bands=2)
    with pytest.raises(ValueError, match="band_buckets index"):
        dedup.incremental_minhash_dedup(
            planted, sigs, ngram=3, bands=4, seen_bands=wrong_bands
        )
    # the matching index is accepted and probes identically to on-the-fly
    right_bands = dedup.band_buckets(sigs, bands=4)
    from pagerank_mapreduce_implementation_spark.util import release_result

    with_idx = dedup.incremental_minhash_dedup(
        planted, sigs, ngram=3, bands=4, seen_bands=right_bands
    )
    without_idx = dedup.incremental_minhash_dedup(planted, sigs, ngram=3, bands=4)
    assert sorted(tuple(r) for r in with_idx.collect()) == sorted(
        tuple(r) for r in without_idx.collect()
    )
    release_result(with_idx)
    release_result(without_idx)


def _docs_of(spark, *texts):
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_substring_runs_materialize_contract(spark):
    """substring_runs returns an eager checkpoint that pins storage and
    releases cleanly via util.release_result, gram persist included."""
    from pagerank_mapreduce_implementation_spark.util import release_result

    passage = " ".join(f"w{i}" for i in range(20))
    docs = _docs_of(spark, passage, f"j1 j2 j3 {passage} q1 q2")
    before = _cached_rdd_ids(spark)
    out = dedup.substring_runs(docs, k=8, min_len=12, max_gram_df=64)
    assert out.collect()
    assert _cached_rdd_ids(spark) - before  # checkpoint pinned
    release_result(out)
    assert not _cached_rdd_ids(spark) - before  # gram persist released too


def test_substring_runs_merges_maximal_run(spark):
    """A shared 20-token passage comes back as ONE maximal row with the
    exact starts in each doc — not 13 overlapping k-gram rows."""
    passage = " ".join(f"w{i}" for i in range(20))
    docs = _docs_of(spark, passage, f"j1 j2 j3 {passage} q1 q2")
    rows = dedup.substring_runs(docs, k=8, min_len=12).collect()
    assert [tuple(r) for r in rows] == [(1, 2, 0, 3, 20)]


def test_substring_runs_within_doc_repeats_use_diagonals(spark):
    """A doc containing the same phrase TWICE matches a one-copy doc on
    two different diagonals — two separate runs, one per occurrence,
    never merged across occurrences."""
    phrase = " ".join(f"p{i}" for i in range(8))
    docs = _docs_of(spark, f"{phrase} {phrase}", f"{phrase} t0 t1 t2")
    rows = sorted(
        tuple(r) for r in dedup.substring_runs(docs, k=8, min_len=8).collect()
    )
    assert rows == [(1, 2, 0, 0, 8), (1, 2, 8, 0, 8)]


def test_substring_runs_df_cap_splits_run_at_hot_gram(spark):
    """The documented max_gram_df trade: a capped gram INSIDE a shared
    passage splits the maximal run at its position. Planted: docs 1-2
    share a 20-token run whose k-gram at position 6 also appears in
    docs 3 and 4 (df=4); with max_gram_df=2 the run splits into the two
    13-token flanks, uncapped it stays one 20-token row."""
    passage = " ".join(f"w{i}" for i in range(20))
    hot_gram = " ".join(f"w{i}" for i in range(6, 14))  # k-gram at pos 6
    docs = _docs_of(spark, passage, passage, hot_gram, hot_gram)

    uncapped = sorted(
        tuple(r) for r in dedup.substring_runs(docs, k=8, min_len=12).collect()
    )
    assert uncapped == [(1, 2, 0, 0, 20)]  # doc3/4 runs are 8 < min_len

    capped = sorted(
        tuple(r)
        for r in dedup.substring_runs(
            docs, k=8, min_len=12, max_gram_df=2
        ).collect()
    )
    # islands 0-5 and 7-12 -> runs of 6+7=13 tokens each
    assert capped == [(1, 2, 0, 0, 13), (1, 2, 7, 7, 13)]
    # and a flank below min_len vanishes entirely
    assert (
        dedup.substring_runs(docs, k=8, min_len=14, max_gram_df=2).count() == 0
    )


def test_substring_runs_min_len_equals_k_boundary(spark):
    """min_len == k is the shortest visible run: exactly one shared
    k-gram scores a k-token row at min_len=k and nothing at k+1."""
    gram = " ".join(f"g{i}" for i in range(8))
    docs = _docs_of(spark, f"a1 a2 {gram}", f"{gram} b1 b2")
    rows = dedup.substring_runs(docs, k=8, min_len=8).collect()
    assert [tuple(r) for r in rows] == [(1, 2, 2, 0, 8)]
    assert dedup.substring_runs(docs, k=8, min_len=9).count() == 0


def test_substring_runs_parameter_validation(spark):
    docs = _docs_of(spark, "a b c")
    with pytest.raises(ValueError, match="min_len"):
        dedup.substring_runs(docs, k=8, min_len=7)
    with pytest.raises(ValueError, match="k"):
        dedup.substring_runs(docs, k=0, min_len=0)
    with pytest.raises(ValueError, match="max_gram_df"):
        dedup.substring_runs(docs, k=2, min_len=2, max_gram_df=0)


def test_strip_substring_runs_removes_from_higher_id_doc(spark):
    """Lee et al. removal semantics: the lower-id doc keeps the shared
    passage, every higher-id victim loses exactly its span; untouched
    docs pass through BYTE-identical (double spaces preserved)."""
    passage = " ".join(f"w{i}" for i in range(20))
    docs = _docs_of(
        spark,
        passage,
        f"j1 j2 j3 {passage} q1 q2",
        f"{passage} z1 z2",
        "totally   unrelated words only here",
    )
    out = {
        r.doc_id: (r.text, r.n_stripped)
        for r in dedup.strip_substring_runs(docs, k=8, min_len=12).collect()
    }
    assert out[1] == (passage, 0)  # keeper: untouched
    assert out[2] == ("j1 j2 j3 q1 q2", 20)
    assert out[3] == ("z1 z2", 20)
    assert out[4] == ("totally   unrelated words only here", 0)  # byte-identical


def test_strip_substring_runs_overlapping_spans_union(spark):
    """A doc victim to several overlapping runs keeps a token iff NO
    span covers it — union semantics, no double-deletion artifacts.
    Doc 3 shares [p0..p11] with doc 1 and [p6..p17] with doc 2: the
    union [0, 18) is stripped, leaving only the tail."""
    toks = [f"p{i}" for i in range(18)]
    docs = _docs_of(
        spark,
        " ".join(toks[:12]),
        " ".join(toks[6:]),
        " ".join(toks) + " tail1 tail2",
    )
    out = {
        r.doc_id: (r.text, r.n_stripped)
        for r in dedup.strip_substring_runs(docs, k=6, min_len=10).collect()
    }
    assert out[3] == ("tail1 tail2", 18)
    # docs 1 and 2 overlap only 6 tokens — below min_len, so neither
    # is touched (the runs report never saw that pair)
    assert out[1] == (" ".join(toks[:12]), 0)
    assert out[2] == (" ".join(toks[6:]), 0)


def test_strip_substring_runs_extra_columns_ride_through(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f", "web"), (2, "a b c d e f", "books")],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: (r.text, r.source, r.n_stripped)
        for r in dedup.strip_substring_runs(docs, k=3, min_len=3).collect()
    }
    assert out[1] == ("a b c d e f", "web", 0)
    assert out[2] == ("", "books", 6)


def test_release_result_walks_composite_plans(spark):
    """release_result must free checkpoints ANYWHERE in the plan, not
    just at the root — connected_components returns a union OVER its
    materialized fixed point, and users join released operators'
    outputs before releasing."""
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )
    from pagerank_mapreduce_implementation_spark.util import release_result

    # composite: union of two root checkpoints
    a = spark.createDataFrame([(1,)], "x long").localCheckpoint(eager=True)
    b = spark.createDataFrame([(2,)], "x long").localCheckpoint(eager=True)
    before = _cached_rdd_ids(spark)  # includes a and b
    u = a.unionByName(b)
    assert u.count() == 2
    release_result(u)
    # both roots' checkpoint RDDs are gone
    assert len(_cached_rdd_ids(spark)) <= len(before) - 2

    # the real composite: CC's final labels reference its edge/vertex
    # checkpoints; release_result must reach them through union+join
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    pre = _cached_rdd_ids(spark)
    out = connected_components(edges, algorithm="star")
    labels = {r.vertex: r.component for r in out.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert _cached_rdd_ids(spark) - pre  # fixed point is pinned
    release_result(out)
    # the checkpoints the RESULT references are freed; iteration
    # intermediates (unreferenced) are the ContextCleaner's job
    import py4j

    try:
        out.count()
        leaked = True
    except py4j.protocol.Py4JJavaError:
        leaked = False  # truncated lineage is gone = released
    assert not leaked


def test_cosine_pairs_lsh_materialize_contract(spark):
    """The similarity pair op exposes the dedup cadence as opt-in:
    the lazy default pins nothing; materialize=True persists the
    bucket table for ONE sketch pass and returns a releasable
    checkpoint with identical rows."""
    import random

    from pagerank_mapreduce_implementation_spark.operators import similarity
    from pagerank_mapreduce_implementation_spark.util import release_result

    rng = random.Random(11)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    before = _cached_rdd_ids(spark)
    lazy = sorted(
        tuple(r) for r in similarity.cosine_pairs_lsh(emb, 0.3).collect()
    )
    assert not _cached_rdd_ids(spark) - before  # lazy default pins nothing
    out = similarity.cosine_pairs_lsh(emb, 0.3, materialize=True)
    assert sorted(tuple(r) for r in out.collect()) == lazy and lazy
    assert _cached_rdd_ids(spark) - before
    release_result(out)
    assert not _cached_rdd_ids(spark) - before


def test_line_dedup_keep_first_corpus_wide(spark):
    """CCNet keep-first: the (doc_id, line_idx)-smallest occurrence of
    each normalized line survives; every later copy drops, including a
    second copy WITHIN one document. Blank lines are exempt (never
    collapse), untouched docs pass through byte-identical."""
    docs = _docs_of(
        spark,
        "alpha beta\ncookie banner\ngamma",
        "cookie banner\ndelta\n\ncookie banner",
        "unique   text\n\nmore  here",
    )
    out = {
        r.doc_id: (r.text, r.n_dropped_lines)
        for r in dedup.line_dedup(docs).collect()
    }
    assert out[1] == ("alpha beta\ncookie banner\ngamma", 0)  # keeper
    assert out[2] == ("delta\n", 2)  # both copies drop; blank kept
    # byte-identical: double spaces + blank line preserved
    assert out[3] == ("unique   text\n\nmore  here", 0)


def test_line_dedup_normalization_and_exemption(spark):
    """Default key is md5(lower(trim(line))): case/edge-whitespace
    variants of a line are the SAME key; min_line_chars exempts short
    lines from dedup entirely."""
    docs = _docs_of(
        spark,
        "Cookie Banner\nx\nbody one",
        "  cookie banner  \nx\nbody two",
    )
    out = {
        r.doc_id: (r.text, r.n_dropped_lines)
        for r in dedup.line_dedup(docs, min_line_chars=2).collect()
    }
    assert out[1] == ("Cookie Banner\nx\nbody one", 0)
    # normalized dup dropped; 1-char line "x" exempt despite df=2
    assert out[2] == ("x\nbody two", 1)
    with pytest.raises(ValueError, match="min_line_chars"):
        dedup.line_dedup(docs, min_line_chars=0)


def test_line_dedup_matches_duckdb_oracle(spark):
    """Cross-engine parity on a corpus with real line structure: the
    lined staging of the sf0.001 documents (10 tokens per line, the
    registry query's shape). DuckDB replays split/key/keep-first/
    rebuild independently."""
    import duckdb

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    toks = F.split(F.col("text"), " ")
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(toks) / F.lit(10)).cast("int") - F.lit(1),
                ),
                lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    got = {
        r.doc_id: (r.text, r.n_dropped_lines)
        for r in dedup.line_dedup(docs).collect()
    }
    con = duckdb.connect()
    want_rows = con.execute(
        f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') toks
          FROM read_parquet('{sf}/documents.parquet')
        ), staged AS (
          SELECT doc_id, array_to_string(
            [array_to_string(toks[(i*10+1):(i*10+10)], ' ')
             for i in range(cast(ceil(len(toks)/10.0) as bigint))],
            chr(10)) AS text
          FROM t
        ), lines AS (
          SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                 unnest(range(len(string_split(text, chr(10))))) AS idx
          FROM staged
        ), keyed AS (
          SELECT doc_id, idx, md5(lower(trim(line, ' '))) k
          FROM lines WHERE len(trim(line, ' ')) >= 1
        ), ranked AS (
          SELECT doc_id, idx,
                 row_number() OVER (PARTITION BY k ORDER BY doc_id, idx) rn
          FROM keyed
        ), dropped AS (
          SELECT doc_id, idx FROM ranked WHERE rn > 1
        ), rebuilt AS (
          SELECT s.doc_id,
                 coalesce((SELECT string_agg(l.line, chr(10) ORDER BY l.idx)
                           FROM lines l
                           LEFT JOIN dropped d
                             ON d.doc_id = l.doc_id AND d.idx = l.idx
                           WHERE l.doc_id = s.doc_id AND d.doc_id IS NULL),
                          '') AS text,
                 (SELECT count(*) FROM dropped d WHERE d.doc_id = s.doc_id)
                   AS n_dropped
          FROM staged s
        )
        SELECT doc_id, text, n_dropped FROM rebuilt
        """
    ).fetchall()
    want = {d: (t, n) for d, t, n in want_rows}
    assert got == want
    assert sum(n for _, n in got.values()) > 0  # the corpus has real dups


def test_semdedup_basic_rules(spark):
    """Cluster-bounded semantic dedup on a hand-built geometry: two
    tight clusters along axes e1 and e2, n_cells=2 splits them; the
    within-cluster pair above threshold drops one member per rule.
    min_id drops the higher id; centroid_far drops the member CLOSER
    to its centroid."""
    import math

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    emb = spark.createDataFrame(
        [
            (1, vec(0.0)),        # cluster A anchor (seed 1)
            (2, vec(1.5708)),     # cluster B anchor (seed 2) ~ e2
            (3, vec(0.30)),       # near A; cos(0.30)=0.955 with id 1
            (4, vec(1.5708 - 0.6)),  # near B; cos(0.6)=0.825 w/ id 2
        ],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 5)], "doc_id long, text string"
    )
    # threshold 0.9: only the (1,3) pair qualifies. min_id drops 3.
    out = dedup.semdedup(docs, emb, n_cells=2, threshold=0.9, n_iters=1)
    assert {r.doc_id for r in out.collect()} == {1, 2, 4}
    # centroid_far: after 1 Lloyd iter centroid A = mean(v1, v3); v1
    # and v3 are symmetric around it EXCEPT float noise decides — use
    # threshold 0.8 so (2,4) also pairs: centroid B = mean(v2, v4),
    # equidistant too; tie falls to greatest id. Both drops must be
    # deterministic and the survivor set stable across runs.
    out2a = dedup.semdedup(
        docs, emb, n_cells=2, threshold=0.8, n_iters=1, keep_rule="centroid_far"
    )
    out2b = dedup.semdedup(
        docs, emb, n_cells=2, threshold=0.8, n_iters=1, keep_rule="centroid_far"
    )
    got = {r.doc_id for r in out2a.collect()}
    assert got == {r.doc_id for r in out2b.collect()}
    assert len(got) == 2  # one drop per cluster
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_rule"):
        dedup.semdedup(docs, emb, keep_rule="nope")
    with _pytest.raises(ValueError, match="threshold"):
        dedup.semdedup(docs, emb, threshold=0.0)


def test_semdedup_matches_duckdb_oracle(spark):
    """Cross-engine parity of the full SemDeDup path (Lloyd centroids
    -> cell-bounded pairs -> victim rule -> survivors) at sf0.001,
    both keep rules. Cosines are double-fold IEEE-exact on both
    engines, so this is an equality check, not approximate."""
    import duckdb

    from pagerank_mapreduce_implementation_spark import oracles

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    for rule in ("centroid_far", "min_id"):
        out = dedup.semdedup(
            docs, emb, n_cells=8, threshold=0.4, n_iters=2, keep_rule=rule
        )
        got = sorted(r.doc_id for r in out.collect())
        want = sorted(
            r[0]
            for r in con.execute(
                oracles.semdedup_sql(8, 0.4, 2, keep_rule=rule)
            ).fetchall()
        )
        assert got == want, f"{rule}: survivor mismatch"
        assert len(got) < docs.count()  # something actually dropped


class TestClusterSurvivors:
    """dedup.cluster_survivors — quality-argmax survivor per cluster."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog and keeps "
            "running through the quiet field until the evening light fades"
        )
        rows = [
            (1, base),
            (2, base + " away"),          # near-dup of 1, one extra token
            (3, "an entirely different short note"),
            (4, base.replace("quick", "swift")),  # near-dup of 1
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_every_doc_decided_exactly_once(self, spark, corpus):
        out = dedup.cluster_survivors(corpus, threshold=0.4, ngram=3).collect()
        assert sorted(r["doc_id"] for r in out) == [1, 2, 3, 4]

    def test_one_survivor_per_cluster_and_quality_argmax(self, spark, corpus):
        from pagerank_mapreduce_implementation_spark.operators import textstats

        out = {
            r["doc_id"]: r
            for r in dedup.cluster_survivors(corpus, threshold=0.4, ngram=3).collect()
        }
        # docs 1/2/4 cluster together; 3 is a singleton surviving itself
        clusters = {r["cluster_id"] for r in out.values()}
        assert out[3]["cluster_id"] == 3 and out[3]["keep"]
        assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[4]["cluster_id"]
        assert len(clusters) == 2
        # survivor is the quality argmax of the cluster (doc 2 has one
        # more token -> strictly higher length-term quality)
        q = {
            r["doc_id"]: r["quality"]
            for r in textstats.quality_scores(corpus, score_only=True).collect()
        }
        big = [out[1], out[2], out[4]]
        best = max(big, key=lambda r: (q[r["doc_id"]], -r["doc_id"]))
        assert all(r["survivor_id"] == best["doc_id"] for r in big)
        assert sum(1 for r in big if r["keep"]) == 1
        assert out[best["doc_id"]]["keep"]

    def test_tie_breaks_to_smallest_doc_id(self, spark):
        text = "identical words repeated here for the pair of docs"
        docs = spark.createDataFrame(
            [(7, text), (9, text)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in dedup.cluster_survivors(docs, threshold=0.4, ngram=3).collect()
        }
        assert out[7]["keep"] and not out[9]["keep"]
        assert out[9]["survivor_id"] == 7


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="ab A\u00a0\u2003", min_size=0, max_size=24),
        min_size=1,
        max_size=6,
    )
)
@example(texts=["\u00a0ab", "ab", "a b\u2003", "a b"])
def test_unicode_space_edges_match_oracle(spark, texts):
    """exact_dedup, line_dedup and incremental_dedup, as registered,
    against their DuckDB oracles on text whose edges carry U+00A0 /
    U+2003. Spark's ``trim`` strips only the ASCII space; DuckDB's bare
    ``trim(x)`` also strips Unicode spaces, so an oracle spelling it
    would merge fingerprints and line keys that Spark keeps apart.
    Doc ids step by 100 so incremental_dedup's fixed doc_id < 250 store
    split leaves a non-empty new batch."""
    import tempfile

    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod
    from pagerank_mapreduce_implementation_spark.schemas import DOCUMENTS

    rows = [(100 * i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=DOCUMENTS.fieldNames()))
    with tempfile.TemporaryDirectory() as sf_dir:
        spark.createDataFrame(rows, DOCUMENTS).write.parquet(f"{sf_dir}/documents.parquet")
        for name in ("exact_dedup", "line_dedup", "incremental_dedup"):
            df = entrymod.queries()[name](spark, sf_dir)
            got = sorted(tuple(r[c] for c in sorted(df.columns)) for r in df.collect())
            odf = con.sql(entrymod.oracle_sql()[name]).df()
            want = sorted(
                tuple(r) for r in odf[sorted(odf.columns)].itertuples(index=False)
            )
            assert got == want, name
