"""End-to-end tests of the composed reference programs (programs.py):
wiki-format text in -> sorted text file out, diffed against pure-Python
golden evaluators implementing the reference semantics exactly.
"""

from __future__ import annotations

import math
import re

import pytest

# slow tier (r17): excluded from the driver's default fast run -- see pytest.ini
pytestmark = pytest.mark.slow

from pagerank_mapreduce_implementation_spark.programs import (
    run_pagerank,
    tfidf_search_rank,
)

WIKI_LINES = [
    "<title>a</title> <text>[[b]][[b]][[c]]</text>",  # duplicate edge a->b
    "<title>b</title> <text>[[c]]</text>",
    "<title>c</title> <text>[[a]][[x]]</text>",        # x is a red link
    "this line has no markup at all",                   # junk: counted in N, no page
    "",                                                 # blank: not counted
    "<title>d</title> <text></text>",                   # dangling page
]


def py_reference_pagerank(lines: list[str], n_iters: int = 10, d: float = 0.85):
    """The reference pipeline verbatim (PageRank.java:339-366,371-416,
    443-528): seed 1/count(non-empty lines), per-occurrence scatter,
    rank' = 0.15 + 0.85*sum, red links dropped, dangling mass lost."""
    n_lines = sum(1 for ln in lines if ln != "")
    pages: dict[str, list[str]] = {}
    for raw in lines:
        ln = raw.strip()
        if not ln:
            continue
        titles = re.findall("<title>(.*?)</title>", ln)
        if not titles or titles[-1] == "":
            continue
        links = []
        for body in re.findall("<text(.*?)</text>", ln):
            for lk in re.findall(r"\[\[(.*?)\]\]", body):
                links.append(lk.replace("[[", "").replace("]]", ""))
        pages[titles[-1]] = links
    ranks = {u: 1.0 / n_lines for u in pages}
    for _ in range(n_iters):
        contrib: dict[str, float] = {}
        for u, links in pages.items():
            if links:
                share = ranks[u] / len(links)
                for t in links:
                    contrib[t] = contrib.get(t, 0.0) + share
        ranks = {u: (1 - d) + d * contrib.get(u, 0.0) for u in pages}
    return ranks


def _read_kv_dir(path) -> list[tuple[str, str]]:
    rows = []
    for part in sorted(path.glob("part-*")):
        for ln in part.read_text().splitlines():
            k, v = ln.split("\t")
            rows.append((k, v))
    return rows


def test_run_pagerank_end_to_end(spark, tmp_path):
    inp, outp = tmp_path / "in", tmp_path / "out"
    inp.mkdir()
    (inp / "corpus.txt").write_text("\n".join(WIKI_LINES))
    run_pagerank(spark, str(inp), str(outp))

    got = [(k, float(v)) for k, v in _read_kv_dir(outp)]
    want = py_reference_pagerank(WIKI_LINES)
    want_sorted = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [k for k, _ in got] == [k for k, _ in want_sorted]
    for (gk, gv), (wk, wv) in zip(got, want_sorted):
        assert gv == pytest.approx(wv, rel=1e-12), gk
    # junk line entered the seed denominator: 5 non-empty lines, 4 pages
    assert want["d"] == pytest.approx(0.15)  # dangling, no inbound


def test_run_pagerank_multi_part_output_globally_sorted(spark, tmp_path):
    inp, outp = tmp_path / "in", tmp_path / "out"
    inp.mkdir()
    (inp / "corpus.txt").write_text("\n".join(WIKI_LINES))
    run_pagerank(spark, str(inp), str(outp))
    vals = [float(v) for _, v in _read_kv_dir(outp)]
    assert vals == sorted(vals, reverse=True)  # part files concat in order


def py_tfidf_search(docs: dict[str, str], terms: list[str], total_docs: int | None = None):
    """The jar's TermFrequency -> TFIDF -> Search chain in pure Python
    (TermFrequency$Reduce @48-55, TFIDF$Reduce @68-210, Search @32-89)
    with the exact \\s*\\b\\s* tokenizer (WordCount$Map.class @11).
    ``total_docs`` overrides the denominator count (the jar counts
    input FILES, including zero-line ones)."""
    total_docs = total_docs if total_docs is not None else len(docs)
    counts: dict[tuple[str, str], int] = {}
    for doc, body in docs.items():
        for tok in re.split(r"\s*\b\s*", body):
            if tok:
                counts[(doc, tok.lower())] = counts.get((doc, tok.lower()), 0) + 1
    tf = {k: 1 + math.log10(c) for k, c in counts.items()}
    df: dict[str, int] = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    scores: dict[str, float] = {}
    for (doc, w), t in tf.items():
        if w in terms:
            scores[doc] = scores.get(doc, 0.0) + t * math.log10(
                1 + total_docs / df[w]
            )
    return scores


def test_tfidf_search_rank_end_to_end(spark, tmp_path):
    docs = {
        "d1.txt": "spark is fast, very fast! spark scales.",
        "d2.txt": "hadoop is slower; spark wins.",
        "d3.txt": "nothing relevant here at all.",
    }
    inp, outp = tmp_path / "docs", tmp_path / "scored"
    inp.mkdir()
    for name, body in docs.items():
        (inp / name).write_text(body)

    terms = ["spark", "fast"]
    tfidf_search_rank(spark, str(inp), str(outp), terms)
    got = {k: float(v) for k, v in _read_kv_dir(outp)}
    want = py_tfidf_search(docs, terms)
    assert got.keys() == want.keys()
    for doc in want:
        assert got[doc] == pytest.approx(want[doc], rel=1e-12), doc
    # punctuation-bearing tokenizer: d1 matched 'fast' despite 'fast,'
    # and 'fast!' never being whitespace-delimited words
    assert "d1.txt" in got


def test_tfidf_search_rank_counts_empty_files(spark, tmp_path):
    """totalDocuments = input FILE count (TFIDF.class run() @37-55):
    a zero-line file contributes no rows but still enters every IDF
    denominator — the scores must reflect N=4, not N=3."""
    docs = {
        "d1.txt": "spark is fast fast",
        "d2.txt": "hadoop is slow",
        "d3.txt": "spark again",
    }
    inp, outp = tmp_path / "docs", tmp_path / "scored"
    inp.mkdir()
    for name, body in docs.items():
        (inp / name).write_text(body)
    (inp / "empty.txt").write_text("")  # the jar counts this file

    terms = ["spark"]
    tfidf_search_rank(spark, str(inp), str(outp), terms)
    got = {k: float(v) for k, v in _read_kv_dir(outp)}
    want = py_tfidf_search(docs, terms, total_docs=4)
    assert got.keys() == want.keys()
    for doc in want:
        assert got[doc] == pytest.approx(want[doc], rel=1e-12), doc


def test_clean_corpus_end_to_end(spark, tmp_path):
    """The composed cleaning pipeline: exact dups dropped, near-dup
    clusters keep exactly their min doc_id, clean docs untouched,
    output re-readable from parquet."""
    import pandas as pd

    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base + "extra tail words here"
    rows = [
        (1, base, "en", "web", len(base)),       # cluster keeper
        (2, base, "en", "web", len(base)),       # exact dup of 1
        (3, near, "en", "web", len(near)),       # near dup of 1
        (4, "completely different unrelated content entirely", "en", "web", 46),
    ]
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)

    survivors = clean_corpus(spark, src, out, near_dup_threshold=0.3, ngram=3)
    ids = sorted(r.doc_id for r in survivors.select("doc_id").collect())
    assert ids == [1, 4]
    rt = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert rt == [1, 4]


def test_clean_corpus_repetition_and_decontamination_stages(spark, tmp_path):
    """The round-3 stages: the repetition cap drops looping boilerplate
    and a supplied benchmark set knocks out overlapping docs, before
    dedup runs."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    rows = [
        (1, "a varied document with plenty of distinct novel words inside", "en", "web", 60),
        (2, "spam spam spam spam spam spam spam spam spam spam", "en", "web", 49),
        (3, "the benchmark question about ancient rome appears verbatim here", "en", "web", 63),
        (4, "another genuinely clean and unique training document text", "en", "web", 57),
    ]
    src = str(tmp_path / "in2.parquet")
    out = str(tmp_path / "out2.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)
    bench = spark.createDataFrame(
        [(100, "the benchmark question about ancient rome appears verbatim here")],
        "doc_id long, text string",
    )
    survivors = clean_corpus(
        spark,
        src,
        out,
        max_repetition=0.5,          # doc 2's 2-grams are ~all "spam spam"
        bench_docs=bench,            # doc 3 overlaps the benchmark
        contamination_ngram=3,
        contamination_threshold=0.1,
        near_dup_threshold=0.9,
        ngram=3,
    )
    ids = sorted(r.doc_id for r in survivors.select("doc_id").collect())
    assert ids == [1, 4]


def test_clean_corpus_full_schema_columns_survive_filters(spark, tmp_path):
    """Regression (round-6, found by an sf0.1 end-to-end run): a corpus
    whose schema carries feature-named columns (`n_chars`, like the
    driver testdata) must pass every filter stage via keep_cols without
    an AMBIGUOUS_REFERENCE collision — the scoring passes run in
    score-only mode. All original columns survive to the output."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", "en", "web", 49),
        (2, "the small fast engine keeps all of the hot rows in it", "en", "web", 53),
    ]
    src, out = str(tmp_path / "fs_in"), str(tmp_path / "fs_out")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    kept = clean_corpus(
        spark, src, out,
        lang="en", min_quality=0.1, max_repetition=0.95,
        near_dup_threshold=0.5, ngram=3,
    )
    assert sorted(r.doc_id for r in kept.collect()) == [1, 2]
    assert set(kept.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
    # full mode still guards loudly against output-name collisions
    import pytest as _pytest

    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.read.parquet(src)
    with _pytest.raises(ValueError, match="n_chars"):
        textstats.quality_scores(docs, keep_cols=("n_chars",))
    # score-only mode accepts the same keep_cols
    got = textstats.quality_scores(
        docs, keep_cols=("n_chars",), score_only=True
    )
    assert got.columns == ["doc_id", "n_chars", "quality"]


def test_clean_corpus_signature_store_two_batch_roundtrip(spark, tmp_path):
    """Round-5 verdict item 7: the signature-store write path. Batch 1
    seeds ``{store}/sigs`` + ``{store}/bands`` with its survivors'
    MinHash signatures; batch 2's clean_corpus probes that store and
    drops the cross-batch near-dup while keeping genuinely new docs;
    the store then holds BOTH batches' survivors (append). The probe's
    verdict must equal calling incremental_minhash_dedup directly on
    the persisted store (store append + probe parity), and the
    persisted band index must equal banding the persisted signatures.
    """
    from pagerank_mapreduce_implementation_spark.operators import dedup
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    def cached_ids():
        return {
            int(info.id())
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog " * 5
    other = "entirely different second survivor about spark catalyst plans " * 4
    b1 = [
        (1, base, "en", "web", len(base)),
        (2, other, "en", "web", len(other)),
    ]
    src1, out1 = str(tmp_path / "b1_in"), str(tmp_path / "b1_out")
    spark.createDataFrame(
        b1, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src1)
    cached0 = cached_ids()
    kept1 = clean_corpus(
        spark, src1, out1, near_dup_threshold=0.5, ngram=3,
        signature_store=store,
    )
    # the program releases every RDD its dedup checkpoints pinned
    assert cached_ids() - cached0 == set()
    assert sorted(r.doc_id for r in kept1.select("doc_id").collect()) == [1, 2]
    sigs_after1 = spark.read.parquet(f"{store}/sigs")
    assert sorted(r.doc_id for r in sigs_after1.select("doc_id").collect()) == [1, 2]

    # batch 2: doc 10 near-dups batch-1's doc 1 (cross-batch -> must be
    # dropped via the store), doc 11 is new (kept)
    near = base + "with a small extra tail"
    fresh = "a brand new unique document unseen by any earlier batch at all"
    b2 = [
        (10, near, "en", "web", len(near)),
        (11, fresh, "en", "web", len(fresh)),
    ]
    src2, out2 = str(tmp_path / "b2_in"), str(tmp_path / "b2_out")
    spark.createDataFrame(
        b2, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src2)

    # parity reference: probe the persisted store directly
    direct = dedup.incremental_minhash_dedup(
        spark.read.parquet(src2), sigs_after1, threshold=0.5, ngram=3,
        seen_bands=spark.read.parquet(f"{store}/bands"),
    )
    verdicts = {r.doc_id: r.dup_of_store for r in direct.collect()}
    assert verdicts == {10: 1, 11: 0}

    cached1 = cached_ids()
    kept2 = clean_corpus(
        spark, src2, out2, near_dup_threshold=0.5, ngram=3,
        signature_store=store,
    )
    assert cached_ids() - cached1 == set()
    assert sorted(r.doc_id for r in kept2.select("doc_id").collect()) == [11]

    # store now holds both batches' survivors; band index matches a
    # fresh banding of the persisted signatures
    sigs = spark.read.parquet(f"{store}/sigs")
    assert sorted(r.doc_id for r in sigs.select("doc_id").collect()) == [1, 2, 11]
    bands = spark.read.parquet(f"{store}/bands")
    assert sorted(map(tuple, bands.collect())) == sorted(
        map(tuple, dedup.band_buckets(sigs).collect())
    )


def test_clean_corpus_torn_store_commit_repaired(spark, tmp_path):
    """Round-7 verdict item 1 (fault injection): the store commit is
    two appends (sigs, then bands); kill the writer between them and
    the store holds signed-but-unbanded docs — the state that used to
    silently pass those docs' future duplicates. The next probe must
    instead detect the torn index, rebuild it from the signatures
    (loudly), DROP the cross-batch near-dup of the torn doc, and leave
    the on-disk index healed.
    """
    from pagerank_mapreduce_implementation_spark.operators import dedup
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog " * 5
    b1 = [(1, base, "en", "web", len(base))]
    src1, out1 = str(tmp_path / "b1_in"), str(tmp_path / "b1_out")
    spark.createDataFrame(
        b1, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src1)
    clean_corpus(
        spark, src1, out1, near_dup_threshold=0.5, ngram=3,
        signature_store=store,
    )

    # simulate the crash: append doc 2's SIGNATURES without its bands
    # (exactly what dying between clean_corpus's two appends leaves)
    torn_text = "a torn commit survivor about catalyst shuffle plans " * 4
    torn = spark.createDataFrame(
        [(2, torn_text)], "doc_id long, text string"
    )
    dedup.minhash_signatures(dedup.shingles(torn, 3)).write.mode(
        "append"
    ).parquet(f"{store}/sigs")

    # batch 2: doc 10 near-dups the TORN doc 2 — only a repaired index
    # can catch it; doc 11 is genuinely new
    near = torn_text + "with a small extra tail"
    fresh = "a brand new unique document unseen by any earlier batch at all"
    b2 = [
        (10, near, "en", "web", len(near)),
        (11, fresh, "en", "web", len(fresh)),
    ]
    src2, out2 = str(tmp_path / "b2_in"), str(tmp_path / "b2_out")
    spark.createDataFrame(
        b2, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src2)
    with pytest.warns(UserWarning, match="torn commit|rebuilding the index"):
        kept2 = clean_corpus(
            spark, src2, out2, near_dup_threshold=0.5, ngram=3,
            signature_store=store,
        )
    assert sorted(r.doc_id for r in kept2.select("doc_id").collect()) == [11]

    # the store is healed: the band index covers every signed doc
    # (including torn doc 2 and batch-2 survivor 11) exactly
    sigs = spark.read.parquet(f"{store}/sigs")
    bands = spark.read.parquet(f"{store}/bands")
    assert sorted(r.doc_id for r in sigs.select("doc_id").collect()) == [1, 2, 11]
    assert sorted(map(tuple, bands.collect())) == sorted(
        map(tuple, dedup.band_buckets(sigs).collect())
    )


def test_clean_corpus_duplicated_sig_append_healed_once(spark, tmp_path):
    """Round-8 advice: a retried/duplicated store append leaves every
    doc's signature rows twice — the old integrity gate would re-flag
    the rebuilt index as torn on EVERY subsequent batch (a perpetual
    repair loop). The probe must instead dedupe the sigs ONCE (loudly),
    rebuild bands against the healed table, and run the next batch
    with no repair at all."""
    import warnings

    from pagerank_mapreduce_implementation_spark.operators import dedup
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog " * 5
    src1, out1 = str(tmp_path / "b1_in"), str(tmp_path / "b1_out")
    spark.createDataFrame(
        [(1, base, "en", "web", len(base))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(src1)
    clean_corpus(
        spark, src1, out1, near_dup_threshold=0.5, ngram=3,
        signature_store=store,
    )

    # simulate the retried commit: BOTH dirs appended a second time
    # with identical rows (localCheckpoint: can't lazily re-read a dir
    # while appending to it)
    sigs_copy = spark.read.parquet(f"{store}/sigs").localCheckpoint(eager=True)
    sigs_copy.write.mode("append").parquet(f"{store}/sigs")
    bands_copy = spark.read.parquet(f"{store}/bands").localCheckpoint(eager=True)
    bands_copy.write.mode("append").parquet(f"{store}/bands")

    fresh = "a brand new unique document unseen by any earlier batch at all"
    src2, out2 = str(tmp_path / "b2_in"), str(tmp_path / "b2_out")
    spark.createDataFrame(
        [(10, fresh, "en", "web", len(fresh))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(src2)
    with pytest.warns(UserWarning, match="more than once in sigs"):
        clean_corpus(
            spark, src2, out2, near_dup_threshold=0.5, ngram=3,
            signature_store=store,
        )
    sigs = spark.read.parquet(f"{store}/sigs")
    assert sorted(r.doc_id for r in sigs.select("doc_id").collect()) == [1, 10]
    bands = spark.read.parquet(f"{store}/bands")
    assert sorted(map(tuple, bands.collect())) == sorted(
        map(tuple, dedup.band_buckets(sigs).collect())
    )

    # the loop terminates: batch 3 probes with NO repair warning, and a
    # near-dup of the once-duplicated doc is still caught
    near = base + "with a small extra tail"
    src3, out3 = str(tmp_path / "b3_in"), str(tmp_path / "b3_out")
    spark.createDataFrame(
        [(20, near, "en", "web", len(near))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(src3)
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "error", message=".*(torn commit|more than once in sigs).*"
        )
        kept3 = clean_corpus(
            spark, src3, out3, near_dup_threshold=0.5, ngram=3,
            signature_store=store,
        )
    assert kept3.count() == 0


def test_clean_corpus_conflicting_sig_append_raises(spark, tmp_path):
    """The unhealable variant: the same doc_id appended with DIFFERENT
    signature rows is corruption — the probe must refuse loudly, never
    guess which signature is authoritative."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus
    from pyspark.sql import functions as F

    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog " * 5
    src1, out1 = str(tmp_path / "b1_in"), str(tmp_path / "b1_out")
    spark.createDataFrame(
        [(1, base, "en", "web", len(base))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(src1)
    clean_corpus(
        spark, src1, out1, near_dup_threshold=0.5, ngram=3,
        signature_store=store,
    )
    corrupt = (
        spark.read.parquet(f"{store}/sigs")
        .withColumn("h0", F.col("h0") + 1)
        .localCheckpoint(eager=True)
    )
    corrupt.write.mode("append").parquet(f"{store}/sigs")

    src2, out2 = str(tmp_path / "b2_in"), str(tmp_path / "b2_out")
    spark.createDataFrame(
        [(10, "some new text entirely", "en", "web", 22)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(src2)
    with pytest.raises(ValueError, match="CONFLICTING"):
        clean_corpus(
            spark, src2, out2, near_dup_threshold=0.5, ngram=3,
            signature_store=store,
        )


def test_clean_corpus_missing_band_index_rebuilt(spark, tmp_path):
    """A store with signatures but NO bands dir at all (the first
    append died even earlier) also probes correctly: the index is
    derived from the sigs and persisted."""
    import shutil

    from pagerank_mapreduce_implementation_spark.operators import dedup
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    store = str(tmp_path / "store")
    base = "the quick brown fox jumps over the lazy dog " * 5
    src1, out1 = str(tmp_path / "b1_in"), str(tmp_path / "b1_out")
    spark.createDataFrame(
        [(1, base, "en", "web", len(base))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(src1)
    clean_corpus(
        spark, src1, out1, near_dup_threshold=0.5, ngram=3,
        signature_store=store,
    )
    shutil.rmtree(f"{store}/bands")

    near = base + "with a small extra tail"
    src2, out2 = str(tmp_path / "b2_in"), str(tmp_path / "b2_out")
    spark.createDataFrame(
        [(10, near, "en", "web", len(near))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(src2)
    kept2 = clean_corpus(
        spark, src2, out2, near_dup_threshold=0.5, ngram=3,
        signature_store=store,
    )
    assert kept2.count() == 0  # the cross-batch dup was still caught
    sigs = spark.read.parquet(f"{store}/sigs")
    bands = spark.read.parquet(f"{store}/bands")
    assert sorted(map(tuple, bands.collect())) == sorted(
        map(tuple, dedup.band_buckets(sigs).collect())
    )


def test_connected_components_empty_edges(spark):
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        connected_components,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


def test_clean_corpus_sampling_stage(spark, tmp_path):
    """sample_scale adds the deterministic downsampling stage: the
    sampled output is a subset of the unsampled run, reproducible
    across re-runs, and long docs survive preferentially."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    rows = [
        (i, ("long document body " * 40) if i % 2 == 0 else "tiny doc", "web")
        for i in range(40)
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(src)

    full = {
        r["doc_id"]
        for r in clean_corpus(
            spark, src, str(tmp_path / "out_full"), near_dup_threshold=0.99, ngram=3
        ).collect()
    }
    kept1 = {
        r["doc_id"]
        for r in clean_corpus(
            spark,
            src,
            str(tmp_path / "out_s1"),
            near_dup_threshold=0.99,
            ngram=3,
            sample_scale=400.0,
        ).collect()
    }
    kept2 = {
        r["doc_id"]
        for r in clean_corpus(
            spark,
            src,
            str(tmp_path / "out_s2"),
            near_dup_threshold=0.99,
            ngram=3,
            sample_scale=400.0,
        ).collect()
    }
    assert kept1 == kept2  # deterministic across runs
    assert kept1 <= full and len(kept1) < len(full)
    # every surviving long doc (>=400 bytes => p=1) that passed dedup is kept
    long_survivors = {d for d in full if d % 2 == 0}
    assert long_survivors & kept1 == long_survivors & full


def test_pack_corpus_end_to_end(spark, tmp_path):
    """clean_corpus -> pack_corpus: the cleaned survivors come back as
    overlapping token windows with every token covered."""
    from pagerank_mapreduce_implementation_spark.programs import pack_corpus

    rows = [(i, " ".join(f"w{i}x{j}" for j in range(11))) for i in range(6)]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "chunks")
    got = pack_corpus(spark, src, out, window=4, stride=3)
    assert set(got.columns) == {"doc_id", "chunk_id", "chunk", "n_tokens"}
    per_doc = {}
    for r in got.collect():
        per_doc.setdefault(r["doc_id"], []).append(r)
    for i in range(6):
        chunks = sorted(per_doc[i], key=lambda r: r["chunk_id"])
        assert len(chunks) == 4  # 1 + ceil((11-4)/3)
        covered = {t for r in chunks for t in r["chunk"].split()}
        assert covered == {f"w{i}x{j}" for j in range(11)}
    # written artifact is re-readable (the returned df IS the parquet)
    assert spark.read.parquet(out).count() == got.count()


def test_pack_corpus_bpe_tokenizer(spark, tmp_path):
    """pack_corpus(tokenizer='bpe') windows the vendored-BPE piece
    sequence: chunk rows re-derive exactly from encode_text, and an
    unknown tokenizer name fails loudly."""
    import math

    import pytest

    from pagerank_mapreduce_implementation_spark.functions import bpe
    from pagerank_mapreduce_implementation_spark.programs import pack_corpus

    rows = [(1, "the window table scan merges the sorted stream"),
            (2, "data store keeps the hot rows")]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "chunks_bpe")
    window, stride = 6, 4
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk"], r["n_tokens"])
        for r in pack_corpus(
            spark, src, out, window=window, stride=stride, tokenizer="bpe"
        ).collect()
    }
    want = {}
    for doc_id, txt in rows:
        toks = bpe.encode_text(txt)
        n = len(toks)
        n_chunks = min(
            1 + math.ceil(max(0, n - window) / stride), 1 + (n - 1) // stride
        )
        for i in range(n_chunks):
            sl = toks[i * stride : i * stride + window]
            want[(doc_id, i)] = (" ".join(sl), len(sl))
    assert got == want
    with pytest.raises(ValueError, match="unknown tokenizer"):
        pack_corpus(spark, src, str(tmp_path / "x"), tokenizer="sentencepiece")


def test_pack_corpus_bins_layout(spark, tmp_path):
    """pack_corpus(layout='bins') materializes the packed sequences:
    the concatenation of all bins in bin order equals the concatenation
    of all docs' tokens in id order; every bin except possibly the last
    holds exactly `budget` tokens; docs straddle boundaries."""
    import pytest

    from pagerank_mapreduce_implementation_spark.programs import pack_corpus

    rows = [(i, " ".join(f"d{i}t{j}" for j in range(7))) for i in range(10)]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "bins")
    got = sorted(
        pack_corpus(spark, src, out, layout="bins", budget=16).collect(),
        key=lambda r: r["bin_id"],
    )
    assert [r["bin_id"] for r in got] == list(range(len(got)))
    stream = " ".join(r["text"] for r in got).split()
    want = [f"d{i}t{j}" for i in range(10) for j in range(7)]
    assert stream == want  # 70 tokens -> 4 full bins + 6-token tail
    assert [r["n_tokens"] for r in got] == [16, 16, 16, 16, 6]
    # bin 0 = docs 0,1 fully + doc 2's first 2 tokens -> 3 docs
    assert got[0]["n_docs"] == 3
    with pytest.raises(ValueError, match="unknown layout"):
        pack_corpus(spark, src, str(tmp_path / "x"), layout="scroll")


def test_pack_bins_bpe_tokenizer(spark, tmp_path):
    """pack_bins(tokenizer='bpe') cuts the SUBWORD stream: bins
    re-derive exactly from encode_text piece concatenation in doc-id
    order."""
    from pagerank_mapreduce_implementation_spark.functions import bpe
    from pagerank_mapreduce_implementation_spark.operators.text import pack_bins

    rows = [(1, "the window table scan merges the sorted stream"),
            (2, "data store keeps the hot rows")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    budget = 8
    got = sorted(
        pack_bins(docs, budget=budget, tokenizer="bpe").collect(),
        key=lambda r: r["bin_id"],
    )
    stream = [p for _, txt in rows for p in bpe.encode_text(txt)]
    assert " ".join(r["text"] for r in got).split() == stream
    n_bins = (len(stream) + budget - 1) // budget
    assert [r["bin_id"] for r in got] == list(range(n_bins))
    assert all(r["n_tokens"] == budget for r in got[:-1])


def test_clean_corpus_lm_filter_stage(spark, tmp_path):
    """max_nll drops the off-distribution outlier: a doc of words that
    appear nowhere else scores far above the corpus-typical surprisal,
    while repeated-vocabulary docs pass. Thresholds are computed from
    the corpus' actual lm_scores so the test can't drift."""
    from pagerank_mapreduce_implementation_spark.operators.textstats import lm_scores
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    common = "the data table keeps the sorted rows near the reader"
    rows = [(i, common) for i in range(8)] + [
        (100, "zxqv wplk mntr bghf cdjy qqaz")  # every word unique
    ]
    src = str(tmp_path / "in")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(src)
    scores = {r["doc_id"]: r["nll"] for r in lm_scores(docs).collect()}
    assert scores[100] > scores[0]  # the outlier really is surprising
    cut = (scores[0] + scores[100]) / 2
    out = clean_corpus(
        spark, src, str(tmp_path / "out"), max_nll=cut, near_dup_threshold=1.01
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert 100 not in kept
    assert 0 in kept  # keeper of the exact-dup group survives the cap


def test_clean_corpus_substring_strip_stage(spark, tmp_path):
    """Stage 5a (round-7 verdict item 8): with substring_k set, a
    verbatim passage shared across surviving docs is cut from the
    higher-id doc before the near-dup stages; the written table holds
    the stripped text, and the signature store (when set) is seeded
    from the STRIPPED survivors."""
    from pagerank_mapreduce_implementation_spark.operators import dedup
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    passage = " ".join(f"boiler{i}" for i in range(24))
    uniq_a = " ".join(f"alpha{i}" for i in range(30))
    uniq_b = " ".join(f"beta{i}" for i in range(30))
    # doc 3: NO shared span, and deliberately non-canonical whitespace
    # — the clean_corpus whitespace contract says it must survive
    # byte-identical (round-8 verdict item 6)
    messy = "gamma0  gamma1\tgamma2   gamma3 " + " ".join(
        f"gamma{i}" for i in range(4, 30)
    )
    rows = [
        (1, f"{uniq_a} {passage}", "en", "web", 0),
        (2, f"{passage} {uniq_b}", "en", "web", 0),
        (3, messy, "en", "web", 0),
    ]
    src, out, store = (
        str(tmp_path / "in"),
        str(tmp_path / "out"),
        str(tmp_path / "store"),
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)
    kept = clean_corpus(
        spark,
        src,
        out,
        near_dup_threshold=0.9,
        ngram=5,
        substring_k=8,
        substring_min_len=16,
        signature_store=store,
    )
    got = {r.doc_id: r.text for r in kept.select("doc_id", "text").collect()}
    assert got[1] == f"{uniq_a} {passage}"  # keeper untouched
    assert got[2] == uniq_b  # passage stripped, unique tail rebuilt
    assert got[3] == messy  # untouched doc: BYTE-identical, tabs kept
    # store signatures describe the STRIPPED text
    sigs = spark.read.parquet(f"{store}/sigs")
    expect = dedup.minhash_signatures(
        dedup.shingles(kept.select("doc_id", "text"), 5)
    )
    assert sorted(map(tuple, sigs.collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_clean_corpus_three_batch_production_path(spark, tmp_path):
    """Capstone for the flagship incremental pipeline: THREE batches
    through clean_corpus with the signature store AND the substring
    strip active, then pack_corpus over the accumulated survivors —
    the full production recipe (ingest -> dedup -> strip -> pack).

    Cross-batch expectations: an exact copy of a batch-1 survivor
    arriving in batch 3 is dropped by the store probe (signature
    estimate 1.0); a near-dup of a batch-2 survivor is dropped; a
    shared boilerplate passage is stripped so only batch 1's copy of
    the passage survives verbatim; genuinely new docs always survive.
    """
    from pagerank_mapreduce_implementation_spark.programs import (
        clean_corpus,
        pack_corpus,
    )

    store = str(tmp_path / "store")
    boiler = " ".join(f"boiler{i}" for i in range(24))
    uniq = {
        1: " ".join(f"alpha{i}" for i in range(40)),
        2: " ".join(f"beta{i}" for i in range(40)),
        3: " ".join(f"gamma{i}" for i in range(40)),
        4: " ".join(f"delta{i}" for i in range(40)),
    }

    def run_batch(n, rows):
        src, out = str(tmp_path / f"b{n}_in"), str(tmp_path / f"b{n}_out")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(src)
        return clean_corpus(
            spark, src, out,
            near_dup_threshold=0.5, ngram=5,
            substring_k=8, substring_min_len=16,
            signature_store=store,
        )

    # batch 1: doc 1 carries the boilerplate; doc 2 is clean
    k1 = run_batch(1, [
        (1, f"{uniq[1]} {boiler}", "en", "web", 0),
        (2, uniq[2], "en", "web", 0),
    ])
    t1 = {r.doc_id: r.text for r in k1.collect()}
    assert set(t1) == {1, 2} and t1[1] == f"{uniq[1]} {boiler}"

    # batch 2: doc 10 repeats the boilerplate around new content —
    # the strip is WITHIN-batch (pairs inside one batch), and doc 10
    # has no in-batch partner, so its copy survives the strip; but its
    # signature is stored for batch 3's probe. doc 11 is clean.
    k2 = run_batch(2, [
        (10, f"{uniq[3]} {boiler}", "en", "web", 0),
        (11, uniq[4], "en", "web", 0),
    ])
    t2 = {r.doc_id: r.text for r in k2.collect()}
    assert set(t2) == {10, 11}

    # batch 3: doc 20 is an EXACT copy of batch-1 survivor doc 2
    # (store estimate 1.0 -> dropped); doc 21 is a near-dup of
    # batch-2's doc 11 (tail edit -> dropped); doc 22 is new.
    fresh = " ".join(f"eps{i}" for i in range(40))
    k3 = run_batch(3, [
        (20, uniq[2], "en", "web", 0),
        (21, uniq[4] + " tiny tail", "en", "web", 0),
        (22, fresh, "en", "web", 0),
    ])
    t3 = {r.doc_id: r.text for r in k3.collect()}
    assert set(t3) == {22}

    # store now covers every surviving doc across all three batches
    sigs = spark.read.parquet(f"{store}/sigs")
    assert sorted(r.doc_id for r in sigs.select("doc_id").collect()) == [
        1, 2, 10, 11, 22,
    ]

    # pack the accumulated survivors: windows exist, token counts sane
    allp = str(tmp_path / "all")
    k1.unionByName(k2).unionByName(k3).write.mode("overwrite").parquet(allp)
    packed = pack_corpus(
        spark, allp, str(tmp_path / "packed"), window=16, stride=12
    )
    chunks = packed.collect()
    assert chunks and all(0 < r.n_tokens <= 16 for r in chunks)
    assert {r.doc_id for r in chunks} == {1, 2, 10, 11, 22}


def test_dedup_media_end_to_end_all_modalities(spark, tmp_path):
    """dedup_media (round 9): the modality twin of clean_corpus's dedup
    stages — near-dup pairs -> connected components -> keep-first ->
    written survivors, for image, audio, and video corpora; extra
    columns ride through; pinned checkpoints are released."""
    import pytest

    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm
    from pagerank_mapreduce_implementation_spark.programs import dedup_media
    from pagerank_mapreduce_implementation_spark.util import persistent_rdd_ids

    before = persistent_rdd_ids(spark)

    # image: docs 0..3 are gain.. er, variants of group 0 won't all
    # pair reliably — use dct_test_image pairs instead: (0,1) and (2,3)
    # are brightness pairs (hamming 0 under the DCT hash), 4 unrelated
    src = str(tmp_path / "img_in")
    spark.createDataFrame(
        [(i, mm.dct_test_image(i), f"img{i}.ppm") for i in range(5)],
        "doc_id long, content binary, name string",
    ).write.parquet(src)
    out = dedup_media(
        spark,
        src,
        str(tmp_path / "img_out"),
        modality="image",
        max_hamming=0,
        hasher=mm.ppm_dcthash,
    )
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == [0, 2, 4]
    assert set(out.columns) == {"doc_id", "content", "name"}  # cols survive

    # audio: docs 4g..4g+3 share a fingerprint (gain variants) -> one
    # survivor per group, the lowest id
    asrc = str(tmp_path / "aud_in")
    spark.createDataFrame(
        [
            (i, mm.wav_encode(mm.wav_test_clip(i)))
            for i in range(8)
        ],
        "doc_id long, content binary",
    ).write.parquet(asrc)
    aout = dedup_media(
        spark, asrc, str(tmp_path / "aud_out"), modality="audio", max_hamming=0
    )
    assert sorted(r.doc_id for r in aout.select("doc_id").collect()) == [0, 4]

    # video with min_run: doc 2 is doc 1 trimmed (contiguous run of 3),
    # doc 3 scatters the same frames -> only the trim clusters
    vsrc = str(tmp_path / "vid_in")
    clips = [
        (1, mm.frames_pack([mm.phash_test_image(f) for f in (10, 11, 12, 13)])),
        (2, mm.frames_pack([mm.phash_test_image(f) for f in (11, 12, 13)])),
        (3, mm.frames_pack([mm.phash_test_image(f) for f in (13, 11, 12)])),
    ]
    spark.createDataFrame(clips, "doc_id long, content binary").write.parquet(vsrc)
    vout = dedup_media(
        spark, vsrc, str(tmp_path / "vid_out"), modality="video", min_run=3
    )
    assert sorted(r.doc_id for r in vout.select("doc_id").collect()) == [1, 3]

    assert not persistent_rdd_ids(spark) - before  # nothing left pinned
    with pytest.raises(ValueError, match="unknown modality"):
        dedup_media(spark, vsrc, str(tmp_path / "x"), modality="text")


def test_dedup_media_fingerprint_store_image_roundtrip(spark, tmp_path):
    """dedup_media(fingerprint_store=...): batch 1 seeds {store}/fps
    with survivors' perceptual hashes; batch 2's brightness-shifted
    copy of a batch-1 doc is caught by the cross-batch probe (DCT hash,
    hamming 0) while a fresh image passes and its hash is appended."""
    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm
    from pagerank_mapreduce_implementation_spark.programs import dedup_media

    store = str(tmp_path / "store")
    src1 = str(tmp_path / "b1_in")
    spark.createDataFrame(
        [(0, mm.dct_test_image(0)), (2, mm.dct_test_image(2))],
        "doc_id long, content binary",
    ).write.parquet(src1)
    out1 = dedup_media(
        spark, src1, str(tmp_path / "b1_out"), modality="image",
        max_hamming=0, hasher=mm.ppm_dcthash, fingerprint_store=store,
    )
    assert sorted(r.doc_id for r in out1.select("doc_id").collect()) == [0, 2]

    # batch 2: doc 10 = dct_test_image(1) is doc 0's +40 shift (store
    # dup); doc 11 = dct_test_image(4) is a fresh group
    src2 = str(tmp_path / "b2_in")
    spark.createDataFrame(
        [(10, mm.dct_test_image(1)), (11, mm.dct_test_image(4))],
        "doc_id long, content binary",
    ).write.parquet(src2)
    out2 = dedup_media(
        spark, src2, str(tmp_path / "b2_out"), modality="image",
        max_hamming=0, hasher=mm.ppm_dcthash, fingerprint_store=store,
    )
    assert sorted(r.doc_id for r in out2.select("doc_id").collect()) == [11]
    fps = spark.read.parquet(f"{store}/fps")
    assert sorted(r.doc_id for r in fps.select("doc_id").collect()) == [0, 2, 11]
    # stored hash equals the direct hash (fingerprints-only store):
    # doc 11 carries dct_test_image(4)'s content
    want = mm.ppm_dcthash(mm.dct_test_image(4))
    assert {r.phash for r in fps.filter("doc_id = 11").collect()} == {want}


def test_dedup_media_fingerprint_store_video_runs_roundtrip(spark, tmp_path):
    """Video store probe preserves RUN semantics across batches: the
    store keeps (doc_id, frame_idx, fhash) rows, so a batch-2 TRIM of a
    batch-1 clip matches on a contiguous cross-batch run while a
    scattered reuse of the same frames does not."""
    from pagerank_mapreduce_implementation_spark.operators import multimodal as mm
    from pagerank_mapreduce_implementation_spark.programs import dedup_media

    def clip(fids):
        return mm.frames_pack([mm.phash_test_image(f) for f in fids])

    store = str(tmp_path / "store")
    src1 = str(tmp_path / "b1_in")
    spark.createDataFrame(
        [(1, clip([10, 11, 12, 13]))], "doc_id long, content binary"
    ).write.parquet(src1)
    dedup_media(
        spark, src1, str(tmp_path / "b1_out"), modality="video",
        min_run=3, fingerprint_store=store,
    )

    src2 = str(tmp_path / "b2_in")
    spark.createDataFrame(
        [(20, clip([11, 12, 13])), (21, clip([13, 11, 12]))],
        "doc_id long, content binary",
    ).write.parquet(src2)
    out2 = dedup_media(
        spark, src2, str(tmp_path / "b2_out"), modality="video",
        min_run=3, fingerprint_store=store,
    )
    # 20 = trim of stored 1 (cross-batch run of 3) -> dropped;
    # 21 = same frames scattered -> max cross run 1 -> kept
    assert sorted(r.doc_id for r in out2.select("doc_id").collect()) == [21]
    fps = spark.read.parquet(f"{store}/fps")
    assert sorted(set(r.doc_id for r in fps.select("doc_id").collect())) == [1, 21]


def test_clean_corpus_gopher_stage(spark, tmp_path):
    """Stage 1b (round 9): gopher=True drops docs failing the Gopher
    rule battery before the dedup stages; columns survive the pass."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    good = " ".join(
        f"the word{i} of and that have with be to" for i in range(12)
    )
    short = "the tiny one of and"  # fails min_words=50
    rows = [
        (1, good, "en", "web", len(good)),
        (2, short, "en", "web", len(short)),
    ]
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)
    kept = clean_corpus(spark, src, out, gopher=True)
    assert [r.doc_id for r in kept.select("doc_id").collect()] == [1]
    assert set(kept.columns) == {"doc_id", "text", "lang", "source", "n_chars"}


def test_clean_corpus_line_dedup_stage(spark, tmp_path):
    """Stage 4b (round 9): line_dedup=True strips corpus-wide repeated
    lines (keep-first) BEFORE document-level dedup, so two docs that
    differ only by shared boilerplate become exact duplicates and
    collapse; untouched docs pass through byte-identical."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    banner = "accept all cookies to continue"
    rows = [
        (1, f"{banner}\nunique body alpha"),
        (2, f"{banner}\nunique body beta"),
        (3, "no  boilerplate   here"),  # byte-identity probe
    ]
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)
    kept = {
        r.doc_id: r.text
        for r in clean_corpus(spark, src, out, line_dedup=True).collect()
    }
    assert kept[1] == f"{banner}\nunique body alpha"  # keeper keeps line
    assert kept[2] == "unique body beta"  # boilerplate stripped
    assert kept[3] == "no  boilerplate   here"  # BYTE-identical


def test_clean_corpus_semantic_stage(spark, tmp_path):
    """Stage 6b (round 9): an embeddings frame activates SemDeDup over
    the SURVIVORS — a high-cosine pair drops one member (paper rule:
    the one closer to its centroid), and embeddings of docs already
    dropped upstream cannot evict a live doc."""
    import math

    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (1, "alpha content body one"),
        (2, "alpha content body one"),  # exact dup of 1: dropped at stage 5
        (3, "semantic twin of doc one"),
        (4, "totally different subject"),
    ]
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)
    emb = spark.createDataFrame(
        [
            (1, vec(0.0)),
            (2, vec(0.05)),  # near 1 — but doc 2 is already gone
            (3, vec(0.10)),  # cos(0.10)=0.995 with doc 1: semantic dup
            (4, vec(1.5708)),  # orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    kept = sorted(
        r.doc_id
        for r in clean_corpus(
            spark,
            src,
            out,
            embeddings=emb,
            semantic_threshold=0.9,
            semantic_cells=2,
            semantic_iters=1,
        ).collect()
    )
    # doc 2 went at exact dedup; of the (1,3) semantic pair one member
    # drops; doc 4 survives
    assert len(kept) == 2 and 4 in kept
    assert set(kept) <= {1, 3, 4}


def test_clean_corpus_c4_stage(spark, tmp_path):
    """Stage 1c (round 9): c4=True drops pages failing the C4 verdict
    and REWRITES kept pages to their surviving lines before any other
    stage."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    good = "\n".join(f"a proper sentence number {i}." for i in range(6))
    rows = [
        (1, good + "\nnoise line without punct"),
        (2, "lorem ipsum dolor sit amet.\n" + good),  # page needle
        (3, "too short. honestly."),  # < 5 sentences
    ]
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)
    kept = {r.doc_id: r.text for r in clean_corpus(spark, src, out, c4=True).collect()}
    assert sorted(kept) == [1]
    assert kept[1] == good  # noise line rewritten away


def test_clean_corpus_gopher_repetition_stage(spark, tmp_path):
    """Stage 3a2 (round 9): gopher_rep=True drops docs failing the
    repetition caps."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    spammy = "buy now " * 30 + "limited offer"
    clean = " ".join(f"distinct{i} token{i*7+3}" for i in range(20))
    rows = [(1, clean), (2, spammy)]
    src, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(src)
    kept = clean_corpus(spark, src, out, gopher_rep=True)
    assert [r.doc_id for r in kept.select("doc_id").collect()] == [1]


def test_clean_corpus_entropy_band_stage(spark, tmp_path):
    """min/max_char_entropy drop the compressibility extremes: a
    repeated-char doc (0 bits) and a full-alphabet noise doc sit
    outside the band; normal prose survives."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    import string

    rows = [
        (1, "a normal english sentence with varied words here", "web"),
        (2, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", "web"),  # ~0 bits
        (3, " ".join([string.printable] * 3), "web"),  # near-max bits
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)
    kept = {
        r["doc_id"]
        for r in clean_corpus(
            spark,
            src,
            str(tmp_path / "out"),
            near_dup_threshold=0.99,
            ngram=3,
            min_char_entropy=2.0,
            max_char_entropy=5.5,
        ).collect()
    }
    assert 1 in kept and 2 not in kept and 3 not in kept


def test_clean_corpus_dsir_stage(spark, tmp_path):
    """dsir_target + dsir_k select the budgeted, target-like tail:
    exactly k survivors, biased toward the target's vocabulary; the
    two knobs must be set together."""
    import pytest

    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    rows = [
        (i, "machine learning data pipelines scale with spark "
            f"uniquifier{i}", "web")
        for i in range(10)
    ] + [
        (100 + i, "cooking recipes garden flowers weekend travel "
                  f"uniquifier{100+i}", "web")
        for i in range(10)
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)
    target = spark.createDataFrame(
        [(1000 + i, "machine learning pipelines on spark at scale")
         for i in range(5)],
        "doc_id long, text string",
    )
    out = clean_corpus(
        spark,
        src,
        str(tmp_path / "out"),
        near_dup_threshold=0.99,
        ngram=3,
        dsir_target=target,
        dsir_k=8,
    ).collect()
    kept = {r["doc_id"] for r in out}
    assert len(kept) == 8
    # the ML-vocabulary half must dominate the selection
    assert len([d for d in kept if d < 100]) >= 6
    # schema preserved
    assert {"doc_id", "text", "source"} <= set(out[0].asDict())

    with pytest.raises(ValueError, match="dsir_target and dsir_k"):
        clean_corpus(
            spark, src, str(tmp_path / "out2"),
            dsir_target=target,
        )


def test_clean_corpus_source_quota_stage(spark, tmp_path):
    """source_top_frac keeps the proportional best of every source —
    groups of different sizes each keep ceil(frac*n); a corpus without
    the grouping column fails loud."""
    import pytest

    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    good = "a long enough sentence of ordinary words " * 4
    rows = [(i, good + f"u{i}", "big") for i in range(10)] + [
        (100 + i, good + f"u{100+i}", "small") for i in range(4)
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)
    out = clean_corpus(
        spark,
        src,
        str(tmp_path / "out"),
        near_dup_threshold=0.99,
        ngram=3,
        source_top_frac=0.5,
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r.source, set()).add(r.doc_id)
    assert len(by["big"]) == 5 and len(by["small"]) == 2

    nosrc = str(tmp_path / "in2")
    spark.createDataFrame(
        [(1, good)], "doc_id long, text string"
    ).write.parquet(nosrc)
    with pytest.raises(ValueError, match="source_top_frac needs"):
        clean_corpus(
            spark, nosrc, str(tmp_path / "out2"), source_top_frac=0.5
        )


def test_pack_corpus_doc_spans_knob(spark, tmp_path):
    """pack_corpus(with_doc_spans=True) emits the bins' boundary maps;
    the knob is rejected for the windows layout."""
    import pytest

    from pagerank_mapreduce_implementation_spark.programs import pack_corpus

    src = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i j")], "doc_id long, text string"
    ).write.parquet(src)
    out = pack_corpus(
        spark,
        src,
        str(tmp_path / "out"),
        layout="bins",
        budget=4,
        with_doc_spans=True,
    )
    assert "doc_spans" in out.columns
    spans = {r.bin_id: r.doc_spans for r in out.collect()}
    assert spans[0] == "0:1"  # bin 0 = doc1's first 4 tokens
    with pytest.raises(ValueError, match="layout='bins'"):
        pack_corpus(
            spark, src, str(tmp_path / "out2"),
            layout="windows", with_doc_spans=True,
        )


def test_clean_corpus_unimax_stage(spark, tmp_path):
    """unimax_budget shapes the surviving mixture: with a budget far
    under one source's mass but multiple epochs of the other's, the
    small source survives whole (epoch cap not binding at >= 1) while
    the big source subsamples toward its fair share; output equals
    applying unimax_mix to the unshaped run's survivors (stage
    composition, not a different sampler)."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        unimax_mix,
    )
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    rows = [
        (i, f"big source filler words everywhere uniq{i} " * 4, "big")
        for i in range(30)
    ] + [
        (100 + i, f"small source rare words uniq{100 + i}", "small")
        for i in range(3)
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)

    plain = clean_corpus(
        spark,
        src,
        str(tmp_path / "plain"),
        near_dup_threshold=0.99,
        ngram=3,
    )
    shaped = clean_corpus(
        spark,
        src,
        str(tmp_path / "shaped"),
        near_dup_threshold=0.99,
        ngram=3,
        unimax_budget=200.0,
        unimax_epoch_cap=2.0,
    )
    got = sorted(r["doc_id"] for r in shaped.collect())
    want = sorted(
        r["doc_id"]
        for r in unimax_mix(
            plain, total_budget=200.0, epoch_cap=2.0
        ).collect()
    )
    assert got == want
    # the small source (18 tokens total, cap 36 >= fair share) rides
    # through whole; the big source subsamples
    assert {100, 101, 102} <= set(got)
    big_kept = sum(1 for d in got if d < 100)
    assert 0 < big_kept < 30


def test_clean_corpus_quality_survivor_policy(spark, tmp_path):
    """survivor_policy='quality' keeps the cluster member with the
    highest quality composite even when it has the LARGER doc_id —
    where the default keep-first would keep doc 1; singletons and the
    rest of the pipeline are unaffected."""
    from pagerank_mapreduce_implementation_spark.operators import textstats
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    base = "quick brown fox jumps over lazy dog keeps running through quiet fields"
    richer = base + " until evening light fades beyond distant hills"
    rows = [
        (1, base, "en", "web", len(base)),
        (2, richer, "en", "web", len(richer)),   # near dup, more tokens
        (4, "completely different unrelated content entirely", "en", "web", 46),
    ]
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)

    docs = spark.read.parquet(src)
    q = {
        r["doc_id"]: r["quality"]
        for r in textstats.quality_scores(docs, score_only=True).collect()
    }
    assert q[2] > q[1]  # the fixture premise: doc 2 is the better copy

    out_min = str(tmp_path / "out_min.parquet")
    ids_min = sorted(
        r.doc_id
        for r in clean_corpus(
            spark, src, out_min, near_dup_threshold=0.3, ngram=3
        ).select("doc_id").collect()
    )
    assert ids_min == [1, 4]

    out_q = str(tmp_path / "out_q.parquet")
    ids_q = sorted(
        r.doc_id
        for r in clean_corpus(
            spark,
            src,
            out_q,
            near_dup_threshold=0.3,
            ngram=3,
            survivor_policy="quality",
        ).select("doc_id").collect()
    )
    assert ids_q == [2, 4]

    import pytest

    with pytest.raises(ValueError, match="survivor_policy"):
        clean_corpus(spark, src, out_q, survivor_policy="best")


def test_clean_corpus_mad_cutoff_drops_low_outlier(spark, tmp_path):
    """mad_cutoff drops the planted low-quality outlier of its source
    while every normal doc (including an equally-extreme HIGH-quality
    one) survives — side='low' is the cleaning posture."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    normal = "plain readable sentence with several ordinary words present"
    rows = [
        (i, normal + f" variant {i}", "en", "web", 60) for i in range(1, 8)
    ] + [
        (99, "!!!! ???? ;;;; ::::", "en", "web", 19),  # punct junk: low quality
    ]
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)

    ids = sorted(
        r.doc_id
        for r in clean_corpus(
            spark, src, out, near_dup_threshold=0.99, ngram=5, mad_cutoff=3.0
        ).select("doc_id").collect()
    )
    assert 99 not in ids and set(range(1, 8)) <= set(ids)


def test_build_training_shards_end_to_end(spark, tmp_path):
    """clean -> pack -> shard: token conservation (manifest sums ==
    whitespace token total of the CLEANED pool), contiguous shard
    numbering, hive-partitioned one-file-per-shard layout, doc_spans
    present, and the clean stage actually dropping the planted dup."""
    import glob

    from pagerank_mapreduce_implementation_spark.programs import (
        build_training_shards,
        clean_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog keeps running onward"
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),  # exact dup -> cleaned away
        (3, "different words for another training document here", "en", "web", 49),
        (4, "yet another short document with some tokens", "en", "web", 43),
    ]
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)

    cleaned = str(tmp_path / "clean.parquet")
    clean_corpus(spark, src, cleaned, near_dup_threshold=0.3, ngram=3)
    manifest = build_training_shards(spark, cleaned, out, budget=8, bins_per_shard=2)
    rows_m = sorted((r.shard, r.n_bins, r.n_tokens) for r in manifest.collect())
    # cleaned pool = docs 1,3,4 -> 12+7+7 = 26 ws tokens -> 4 bins of
    # 8,8,8,2 -> shards (0: bins 0,1) (1: bins 2,3)
    assert [r[0] for r in rows_m] == [0, 1]
    assert sum(r[1] for r in rows_m) == 4
    assert sum(r[2] for r in rows_m) == 26
    # hive layout: one file per shard directory
    for shard in (0, 1):
        files = glob.glob(f"{out}/shards.parquet/shard={shard}/*.parquet")
        assert len(files) == 1, files
    bins = spark.read.parquet(f"{out}/shards.parquet")
    assert "doc_spans" in bins.columns
    got_tokens = " ".join(
        r.text for r in bins.orderBy("bin_id").collect()
    ).split()
    assert len(got_tokens) == 26
    # stream order: bin 0 starts with doc 1's opening tokens
    assert got_tokens[:4] == ["the", "quick", "brown", "fox"]

    import pytest

    with pytest.raises(ValueError, match="bins_per_shard"):
        build_training_shards(spark, src, out, bins_per_shard=0)


def test_build_training_shards_shuffle_seed(spark, tmp_path):
    """shuffle_seed: the token stream is laid out in seeded
    training_order, not doc_id order; doc_map restores provenance;
    token mass is conserved; spans reference positions."""
    from pagerank_mapreduce_implementation_spark.operators import sampling
    from pagerank_mapreduce_implementation_spark.programs import build_training_shards

    rows = [
        (10, "alpha beta gamma delta"),
        (20, "one two three"),
        (30, "red green blue white black"),
    ]
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.mode("overwrite").parquet(src)

    manifest = build_training_shards(
        spark, src, out, budget=4, bins_per_shard=2, shuffle_seed="s1"
    )
    assert sum(r.n_tokens for r in manifest.collect()) == 12
    # doc_map is exactly training_order(seed) with position as the key
    dm = {
        r.source_doc_id: r.doc_id
        for r in spark.read.parquet(f"{out}/doc_map.parquet").collect()
    }
    want = {
        r.doc_id: r.position
        for r in sampling.training_order(docs, seed="s1").collect()
    }
    assert dm == want
    # the stream is the docs concatenated in position order
    by_pos = sorted(rows, key=lambda r: want[r[0]])
    want_tokens = " ".join(t for _, t in by_pos).split()
    bins = spark.read.parquet(f"{out}/shards.parquet")
    got_tokens = " ".join(r.text for r in bins.orderBy("bin_id").collect()).split()
    assert got_tokens == want_tokens
    # spans reference positions (1..n), resolvable through the map
    span_ids = set()
    for r in bins.collect():
        for part in r.doc_spans.split(";"):
            span_ids.add(int(part.split(":")[1]))
    assert span_ids <= set(want.values())
    # a different seed is a different layout
    build_training_shards(
        spark, src, str(tmp_path / "out2"), budget=4, bins_per_shard=2,
        shuffle_seed="s2",
    )
    bins2 = spark.read.parquet(f"{tmp_path}/out2/shards.parquet")
    got2 = " ".join(r.text for r in bins2.orderBy("bin_id").collect()).split()
    assert got2 != got_tokens or want == {
        r.doc_id: r.position
        for r in sampling.training_order(docs, seed="s2").collect()
    }


def test_build_training_shards_clean_then_shuffle(spark, tmp_path):
    """clean + shuffle_seed compose: positions are a permutation of the
    SURVIVOR count (the dup never gets one) and the doc_map covers
    exactly the cleaned pool."""
    from pagerank_mapreduce_implementation_spark.programs import (
        build_training_shards,
        clean_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog keeps running onward"
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),  # exact dup -> cleaned away
        (3, "different words for another training document here", "en", "web", 49),
    ]
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)

    cleaned = str(tmp_path / "clean.parquet")
    clean_corpus(spark, src, cleaned, near_dup_threshold=0.3, ngram=3)
    manifest = build_training_shards(
        spark, cleaned, out, budget=8, bins_per_shard=2, shuffle_seed="cs"
    )
    assert sum(r.n_tokens for r in manifest.collect()) == 19  # 12 + 7
    dm = spark.read.parquet(f"{out}/doc_map.parquet").collect()
    assert sorted(r.source_doc_id for r in dm) == [1, 3]
    assert sorted(r.doc_id for r in dm) == [1, 2]  # positions 1..2


def test_corpus_health_end_to_end(spark, tmp_path):
    """profile + expectations + skew written from one input; planted
    violations surface in the returned expectations table."""
    from pagerank_mapreduce_implementation_spark.programs import corpus_health

    rows = [
        (1, "hello world", "web", 11),
        (2, "", "web", 0),            # text_nonempty violation
        (3, "abc", "books", 99),      # n_chars_consistent violation
        (None, "ok text", "web", 7),  # doc_id_present violation
    ]
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "health")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)

    exp = {r["rule"]: r for r in corpus_health(spark, src, out).collect()}
    assert exp["doc_id_present"]["n_violations"] == 1
    assert exp["text_nonempty"]["n_violations"] == 1
    assert exp["n_chars_consistent"]["n_violations"] == 1
    prof = {r["col_name"]: r for r in spark.read.parquet(f"{out}/profile.parquet").collect()}
    assert prof["doc_id"]["n_nulls"] == 1 and prof["doc_id"]["n_rows"] == 4
    skew = spark.read.parquet(f"{out}/skew.parquet").collect()
    assert skew[0]["source"] == "web" and skew[0]["n_rows"] == 3
    import pytest as _pt

    with _pt.raises(ValueError, match="no default rules"):
        df = spark.createDataFrame([(1,)], "x int")
        p2 = str(tmp_path / "in2.parquet")
        df.write.mode("overwrite").parquet(p2)
        corpus_health(spark, p2, str(tmp_path / "h2"))


def test_full_pipeline_rehearsal(spark, tmp_path):
    """The production recipe composed end-to-end on one corpus:
    clean_corpus (dedup) -> corpus_health on the survivors ->
    build_training_shards(shuffle_seed) on the same pool — every
    artifact readable, token mass conserved, expectations green."""
    from pagerank_mapreduce_implementation_spark.programs import (
        build_training_shards,
        clean_corpus,
        corpus_health,
    )

    base = "the quick brown fox jumps over the lazy dog keeps running onward"
    texts = [
        (1, base),
        (2, base),  # exact dup
        (3, "different words for another training document here"),
        (4, "yet another short document with some tokens"),
    ]
    # n_chars derived, not hard-coded: the health gate checks exactly
    # this consistency (a stale literal fails the run — by design)
    rows = [
        (i, t, "en", "books" if i == 4 else "web", len(t)) for i, t in texts
    ]
    src = str(tmp_path / "in.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(src)

    clean = str(tmp_path / "clean.parquet")
    survivors = clean_corpus(
        spark, src, clean, near_dup_threshold=0.3, ngram=3
    )
    n_surv = survivors.count()
    assert n_surv == 3  # the dup dropped

    exp = {
        r["rule"]: r
        for r in corpus_health(spark, clean, str(tmp_path / "health")).collect()
    }
    assert all(r["n_violations"] == 0 for r in exp.values())
    hist = spark.read.parquet(f"{tmp_path}/health/length_hist.parquet").collect()
    assert sum(r["n"] for r in hist) == n_surv

    manifest = build_training_shards(
        spark, clean, str(tmp_path / "shards"), budget=8, bins_per_shard=2,
        shuffle_seed="rehearsal",
    )
    # token conservation through the whole chain: 12 + 7 + 7 ws tokens
    assert sum(r.n_tokens for r in manifest.collect()) == 26
    dm = spark.read.parquet(f"{tmp_path}/shards/doc_map.parquet").collect()
    assert sorted(r.source_doc_id for r in dm) == [1, 3, 4]


def test_cluster_report_end_to_end(spark, tmp_path):
    """cluster_report: Lloyd-fit once, label + compactness per cell over
    a hand-checkable two-cluster corpus (apple docs hug [1,0], banana
    docs hug [0,1]; seeds = first two vec_ids, one per region)."""
    import os

    from pagerank_mapreduce_implementation_spark.programs import cluster_report

    docs = spark.createDataFrame(
        [
            (1, "apple apple pie"),
            (2, "banana banana split"),
            (3, "apple tart apple"),
            (4, "banana bread banana"),
            (5, "apple cider"),
            (6, "banana smoothie"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.9, 0.1]),
            (4, [0.1, 0.9]),
            (5, [0.95, 0.05]),
            (6, [0.05, 0.95]),
        ],
        "vec_id long, embedding array<double>",
    )
    dp, ep = str(tmp_path / "docs.parquet"), str(tmp_path / "emb.parquet")
    docs.write.parquet(dp)
    emb.write.parquet(ep)
    out = str(tmp_path / "report_out")
    rep = {
        r["cell_id"]: r
        for r in cluster_report(
            spark, dp, ep, out, n_cells=2, k_terms=2
        ).collect()
    }
    # cell 1 seeded by vec 1 (the apple region), cell 2 by vec 2
    assert set(rep) == {1, 2}
    assert rep[1]["n"] == 3 and rep[2]["n"] == 3
    assert rep[1]["label"].split()[0] == "apple"
    assert rep[2]["label"].split()[0] == "banana"
    # tight regions: every member hugs its centroid
    assert rep[1]["mean_cos"] > 0.97 and rep[2]["mean_cos"] > 0.97
    # count-tie labels break by word asc (deterministic second term)
    assert rep[1]["label"] == "apple cider"
    assert rep[2]["label"] == "banana bread"
    # the report parquet is the on-disk artifact, read back verbatim
    assert os.path.isdir(os.path.join(out, "cluster_report.parquet"))


def test_cluster_report_ctfidf_damps_shared_tokens(spark, tmp_path):
    """weighting='ctfidf': a token EVERY cell shares scores log10(1 +
    2/2) ~ 0.18x its count and loses the label to cell-specific terms,
    even when its raw count wins."""
    from pagerank_mapreduce_implementation_spark.programs import cluster_report

    # per cell: "the" x5 (count winner) vs the specific term x4 —
    # ctfidf: 5 * log10(1 + 2/2) = 1.505 < 4 * log10(1 + 2/1) = 1.908
    docs = spark.createDataFrame(
        [
            (1, "the the the apple apple"),
            (2, "the the the banana banana"),
            (3, "the the apple apple"),
            (4, "the the banana banana"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.97, 0.03]),
            (4, [0.03, 0.97]),
        ],
        "vec_id long, embedding array<double>",
    )
    dp, ep = str(tmp_path / "d2.parquet"), str(tmp_path / "e2.parquet")
    docs.write.parquet(dp)
    emb.write.parquet(ep)
    rep = {
        r["cell_id"]: r["label"]
        for r in cluster_report(
            spark,
            dp,
            ep,
            str(tmp_path / "out2"),
            n_cells=2,
            k_terms=1,
            weighting="ctfidf",
        ).collect()
    }
    assert rep == {1: "apple", 2: "banana"}
