"""Local correctness gate for the round-14 cohort (readability_scores,
oov_stats, simhash_recall_report, lsh_expected_recall — registered in
round 16) and the unregistered operators wired into clean_corpus
(zipf_fit, intra_doc_line_dedup): DuckDB parity through the registry
harness's normalize/compare, plus semantics on hand-checkable
fixtures and plan-shape asserts."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

# slow tier (r17): excluded from the driver's default fast run -- see pytest.ini
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark import oracles
from pagerank_mapreduce_implementation_spark.operators import textstats
from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check(spark_df, duck_con, oracle_sql):
    got = normalize(spark_df.toPandas())
    want = normalize(duck_con.sql(oracle_sql).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    for col in got.columns:
        gk, wk = got[col].dtype.kind, want[col].dtype.kind
        assert not ((gk in "iu" and wk == "f") or (gk == "f" and wk in "iu")), (
            f"{col}: integer-vs-float divergence ({got[col].dtype} vs {want[col].dtype})"
        )


# --- readability (Flesch / Flesch-Kincaid) ---------------------------------


def test_readability_parity(spark, sf_dir, duck):
    got = textstats.readability_scores(Catalog(spark, sf_dir).documents)
    assert got.count() > 0
    check(got, duck, oracles.readability_sql())


def test_readability_semantics(spark):
    """Hand-checked counts and the textbook formula values: sentence
    runs collapse (``?!`` is one boundary), a doc with words but no
    terminal punctuation is ONE sentence, vowel GROUPS count (not
    vowels), empty docs report zero counts and NULL scores."""
    docs = spark.createDataFrame(
        [
            (1, "The cat sat. It was happy?! Yes."),
            (2, ""),
            (3, "no terminal punctuation here"),
            (4, "zzz bcdfg."),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textstats.readability_scores(docs).collect()}
    r1 = rows[1]
    # "happy?!" -> one [.!?]+ run; 3 sentences, 7 whitespace words
    assert r1["n_sentences"] == 3 and r1["n_words"] == 7
    # vowel groups: the(e) cat(a) sat(a) it(i) was(a) happy(a, y)
    # yes(e) -> 8
    assert r1["n_syllables"] == 8
    wps, spw = 7 / 3, 8 / 7
    assert r1["words_per_sentence"] == round(wps, 6)
    assert r1["flesch_reading_ease"] == round(206.835 - 1.015 * wps - 84.6 * spw, 6)
    assert r1["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 6)
    r2 = rows[2]
    assert r2["n_sentences"] == 0 and r2["n_words"] == 0
    assert r2["flesch_reading_ease"] is None and r2["fk_grade"] is None
    r3 = rows[3]
    assert r3["n_sentences"] == 1  # prose without terminal punctuation
    r4 = rows[4]
    assert r4["n_syllables"] == 0 and r4["syllables_per_word"] == 0.0


def test_readability_zero_shuffle_plan(spark, sf_dir):
    """Pure per-row column math: no exchange of any kind, no Python,
    and the scan prunes to (doc_id, text)."""
    import re as _re

    df = textstats.readability_scores(Catalog(spark, sf_dir).documents)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Python" not in p
    scan_cols = _re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert scan_cols is not None
    assert len(scan_cols.group(1).split(",")) <= 2


# --- OOV / rare-token ratio ------------------------------------------------


def test_oov_stats_parity(spark, sf_dir, duck):
    got = textstats.oov_stats(Catalog(spark, sf_dir).documents, top_k=10)
    rows = got.collect()
    assert any(r["n_oov"] > 0 for r in rows), (
        "vacuous: top-10 covers all (corpus vocab is ~31 words)"
    )
    check(got, duck, oracles.oov_stats_sql(top_k=10))


def test_oov_stats_semantics(spark):
    """Hand-checked head vocabulary: ties at the top_k boundary break
    by word ascending; membership is case-folded; empty docs report
    (0, 0, 0.0)."""
    docs = spark.createDataFrame(
        [(1, "a A b c"), (2, "a rare"), (3, "")],
        "doc_id long, text string",
    )
    # counts: a=3 (case-folded), b=1, c=1, rare=1 -> top_2 = {a, b}
    # (count desc, then word asc: b < c < rare)
    rows = {r["doc_id"]: r for r in textstats.oov_stats(docs, top_k=2).collect()}
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_oov"] == 1  # c
    assert rows[1]["oov_ratio"] == 0.25
    assert rows[2]["n_oov"] == 1 and rows[2]["oov_ratio"] == 0.5  # rare
    assert rows[3]["n_tokens"] == 0 and rows[3]["oov_ratio"] == 0.0
    with pytest.raises(ValueError):
        textstats.oov_stats(docs, top_k=0)


def test_oov_stats_vocab_broadcast_plan(spark, sf_dir):
    """The vocabulary prunes via TakeOrderedAndProject (distributed
    partial top-k, never a single-task global window) and joins back
    as a BROADCAST — no shuffle join anywhere."""
    df = textstats.oov_stats(Catalog(spark, sf_dir).documents, top_k=10)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p
    assert "ShuffledHashJoin" not in p
    assert "BroadcastHashJoin" in p


# --- python-reference fuzz (the luhn/domain-argmax convention) --------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PROP = dict(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
_WORDS = ["the", "cat", "zzz", "a", "Xy", "bcd", "queue", "rhythm", "io."]
_PUNCT = [".", "!", "?", "?!", "...", ""]


@settings(**_PROP)
@given(
    docs=st.lists(
        st.lists(
            st.tuples(st.sampled_from(_WORDS), st.sampled_from(_PUNCT)),
            max_size=8,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_readability_matches_python(spark, docs):
    """Engine counts == a direct python re replay of the pinned
    conventions on randomized word+punctuation streams."""
    import re as _re

    rows = [
        (i, " ".join(w + p for w, p in words))
        for i, words in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in textstats.readability_scores(df).collect()
    }
    for i, text in rows:
        n_words = len([w for w in _re.split(r"\s+", text) if w])
        runs = len(_re.findall(r"[.!?]+", text))
        n_syll = len(_re.findall(r"[aeiouy]+", text.lower()))
        n_sent = max(runs, 1) if n_words else 0
        r = got[i]
        assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (
            n_words, n_sent, n_syll,
        ), text
        if n_words:
            wps, spw = n_words / n_sent, n_syll / n_words
            assert r["flesch_reading_ease"] == round(
                206.835 - 1.015 * wps - 84.6 * spw, 6
            )
        else:
            assert r["flesch_reading_ease"] is None


@settings(**_PROP)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "A", "b", "c", "dd", "ee", "ff"]), max_size=8
        ),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_oov_stats_matches_python(spark, docs, k):
    """Engine OOV counts == a python replay of the deterministic
    (count desc, word asc) head-vocabulary cut."""
    from collections import Counter

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = Counter(w.lower() for _, ws in enumerate(docs) for w in docs[_])
    vocab = {
        w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    }
    got = {r["doc_id"]: r for r in textstats.oov_stats(df, top_k=k).collect()}
    for i, words in enumerate(docs):
        low = [w.lower() for w in words]
        oov = sum(1 for w in low if w not in vocab)
        r = got[i]
        assert (r["n_tokens"], r["n_oov"]) == (len(low), oov), (i, words)
        want_ratio = round(oov / len(low), 6) if low else 0.0
        assert r["oov_ratio"] == want_ratio


def test_clean_corpus_readability_and_oov_stages(spark, tmp_path):
    """clean_corpus(min_flesch=..., max_oov_ratio=...): the readability
    band drops the 40-word-sentence wall and the wordless doc; the OOV
    cap drops the gibberish doc whose tokens sit outside the surviving
    corpus' own head vocabulary; passthrough columns survive."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    easy = "The cat sat here. " * 5                     # short sentences
    wall = " ".join(["word"] * 60) + "."                # one 60-word sentence
    gib = "qzx vbnk wpl zzk qqj mmv " * 4               # off-vocab tokens
    docs = spark.createDataFrame(
        [
            (1, easy, "web"),
            (2, wall, "web"),
            (3, "", "web"),
            (4, (easy + " ") * 2 + gib, "web"),
        ],
        "doc_id long, text string, source string",
    )
    src = str(tmp_path / "in.parquet")
    docs.write.parquet(src)
    # flesch(easy) ~ 97 (wps 4, spw 1.25); flesch(wall) ~ 61 (wps 60,
    # spw 1.0) -> a 70 floor keeps the prose and drops the wall
    surv = clean_corpus(
        spark, src, str(tmp_path / "out_rd"), min_flesch=70.0
    )
    ids = sorted(r["doc_id"] for r in surv.collect())
    assert 2 not in ids and 3 not in ids and 1 in ids
    # OOV cap: vocab is dominated by the repeated easy words; doc 4's
    # gibberish tokens spike its ratio past 0.2
    surv2 = clean_corpus(
        spark, src, str(tmp_path / "out_oov"),
        max_oov_ratio=0.2, oov_top_k=6,
    )
    rows = {r["doc_id"]: r for r in surv2.collect()}
    assert 4 not in rows and 1 in rows
    assert rows[1]["source"] == "web"  # passthrough intact


# --- simhash banding recall audit -------------------------------------------


def test_simhash_recall_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    got = dedup.simhash_recall_report(Catalog(spark, sf_dir).documents)
    row = got.collect()[0]
    assert row["n_planted"] > 0 and row["n_qualifying"] > 0
    # the default config audits the beyond-pigeonhole regime
    # (max_hamming 8 > chunks-1 = 3), where banding CAN miss — a
    # recall pinned at 1.0 would mean the audit tests nothing here
    assert row["recall"] is not None and 0.0 < row["recall"] <= 1.0
    check(got, duck, oracles.simhash_recall_report_sql())


def test_simhash_recall_extremes(spark):
    """drop_rate=0 plants verbatim twins (hamming 0 — found by every
    chunk, recall 1.0); inside the pigeonhole guarantee
    (max_hamming <= chunks-1) recall is provably 1.0 on whatever
    qualifies; bad max_hamming fails loud."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"tok{i}_{j}" for j in range(12)))
            for i in range(8)
        ],
        "doc_id long, text string",
    )
    r = dedup.simhash_recall_report(
        docs, drop_rate=0.0, sample_mod=2, max_hamming=8
    ).collect()[0]
    assert r["n_planted"] == 4 and r["n_qualifying"] == 4
    assert r["hits"] == 4 and r["recall"] == 1.0
    r2 = dedup.simhash_recall_report(
        docs, drop_rate=0.4, sample_mod=2, max_hamming=3
    ).collect()[0]
    # pigeonhole: any pair within hamming 3 shares one of 4 chunks
    assert r2["n_planted"] == 4
    if r2["n_qualifying"] > 0:
        assert r2["recall"] == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.simhash_recall_report(docs, max_hamming=-1)


# --- analytic LSH config sweep ----------------------------------------------


def test_lsh_expected_recall_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    got = dedup.lsh_expected_recall(Catalog(spark, sf_dir).documents)
    rows = {(r["num_hashes"], r["bands"]): r for r in got.collect()}
    assert all(r["n_qualifying"] > 0 for r in rows.values())
    check(got, duck, oracles.lsh_expected_recall_sql())


def test_lsh_expected_recall_semantics(spark):
    """Verbatim twins (s = 1) predict recall 1.0 under every config;
    at fixed rows_per_band more bands can only help; s50 is the
    textbook (1/b)^(1/r) midpoint; invalid configs fail loud."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(12))) for i in range(8)],
        "doc_id long, text string",
    )
    rows = {
        (r["num_hashes"], r["bands"]): r
        for r in dedup.lsh_expected_recall(
            docs, drop_rate=0.0, sample_mod=2, threshold=0.5
        ).collect()
    }
    for (nh, b), r in rows.items():
        assert r["expected_recall"] == 1.0 and r["n_qualifying"] == 4
        assert r["s50_similarity"] == round((1.0 / b) ** (b / nh), 6)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.lsh_expected_recall(docs, configs=((16, 3),))  # 3 ∤ 16
    with _pytest.raises(ValueError):
        dedup.lsh_expected_recall(docs, configs=())


def test_lsh_expected_recall_validates_against_realized_audit(spark, sf_dir):
    """The analytic prediction must track what the deterministic
    pipeline actually realizes: at the audits' shared (16, 4) config
    and planting, |predicted - realized| stays within sampling noise
    (~sqrt(sum p(1-p))/n of the 50 planted Bernoullis), and more
    bands predict monotonically more recall at fixed rows_per_band."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    docs = Catalog(spark, sf_dir).documents
    realized = dedup.minhash_recall_report(
        docs, drop_rate=0.15, sample_mod=10, threshold=0.3
    ).collect()[0]
    pred = {
        (r["num_hashes"], r["bands"]): r["expected_recall"]
        for r in dedup.lsh_expected_recall(docs).collect()
    }
    assert abs(pred[(16, 4)] - realized["recall"]) <= 0.2
    assert pred[(8, 2)] < pred[(16, 4)] < pred[(32, 8)]


# --- Zipf rank-frequency audit (clean_corpus zipf_bands stage) -------------


def test_zipf_fit_parity(spark, sf_dir, duck):
    got = textstats.zipf_fit(Catalog(spark, sf_dir).documents, top_k=100)
    n_groups = got.count()
    assert n_groups >= 2, "vacuous: fewer than two sources"
    assert got.filter(F.col("zipf_slope").isNotNull()).count() == n_groups
    check(got, duck, oracles.zipf_fit_sql(100))


def test_zipf_fit_semantics(spark):
    """Hand-checkable groups: a two-point group fits exactly (slope -2,
    intercept log10(8), r2 = 1); an all-hapax group is a flat line with
    undefined r2 (vary = 0); a single-type group has no line at all
    (varx = 0 -> NULL slope/intercept/r2)."""
    docs = spark.createDataFrame(
        [
            ("g1", " ".join(["aa"] * 8 + ["bb"] * 2)),
            ("g2", "x y z"),
            ("g3", "solo solo solo"),
        ],
        "source string, text string",
    )
    rows = {
        r["source"]: r for r in textstats.zipf_fit(docs, top_k=10).collect()
    }
    g1 = rows["g1"]
    assert g1["n_tokens"] == 10 and g1["n_types"] == 2
    assert g1["hapax_ratio"] == 0.0
    assert g1["zipf_slope"] == pytest.approx(-2.0, abs=1e-6)
    assert g1["zipf_intercept"] == pytest.approx(0.903090, abs=1e-6)
    assert g1["zipf_r2"] == pytest.approx(1.0, abs=1e-6)
    g2 = rows["g2"]
    assert g2["n_types"] == 3 and g2["hapax_ratio"] == 1.0
    assert g2["zipf_slope"] == 0.0 and g2["zipf_intercept"] == 0.0
    assert g2["zipf_r2"] is None  # all counts equal: vary = 0
    g3 = rows["g3"]
    assert g3["n_tokens"] == 3 and g3["n_types"] == 1
    assert g3["zipf_slope"] is None and g3["zipf_intercept"] is None
    assert g3["zipf_r2"] is None  # one rank: varx = 0
    with pytest.raises(ValueError, match=">= 2"):
        textstats.zipf_fit(docs, top_k=1)


def test_zipf_fit_head_prunes_before_window(spark, sf_dir):
    """The rank filter must plan WindowGroupLimit (per-partition top_k
    prune BEFORE the window shuffle), the OLS join must broadcast, and
    no Python appears anywhere."""
    df = textstats.zipf_fit(Catalog(spark, sf_dir).documents, top_k=100)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p
    assert "SortMergeJoin" not in p
    assert "Python" not in p


def test_clean_corpus_zipf_bands_drop_whole_source(spark, tmp_path):
    """clean_corpus(zipf_bands=...): a natural-ish source (distinct
    word frequencies, negative slope) survives; a template-farm source
    (every doc the same few words at equal counts -> flat line, NULL or
    ~0 r2) drops AS A WHOLE; unknown band keys raise."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    natural = [
        "the the the the cat cat sat on a mat today quietly",
        "the the cat ran far away from the big dog yesterday",
    ]
    template = ["buy now click here"] * 3
    rows = (
        [(i, t, "web") for i, t in enumerate(natural)]
        + [(10 + i, t, "farm") for i, t in enumerate(template)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    src = str(tmp_path / "in.parquet")
    docs.write.parquet(src)
    surv = clean_corpus(
        spark, src, str(tmp_path / "out_zipf"),
        zipf_bands={"max_slope": -0.1, "top_k": 20},
    )
    out = {r["doc_id"]: r["source"] for r in surv.collect()}
    assert set(out.values()) == {"web"}, out      # farm dropped wholesale
    assert set(out) == {0, 1}
    with pytest.raises(ValueError, match="unknown keys"):
        clean_corpus(
            spark, src, str(tmp_path / "out_bad"),
            zipf_bands={"slope_min": -1.0},
        )
    # r15 advice: bands are native Column comparisons, so inf is a
    # legal (vacuous) threshold rather than an unparsable SQL string
    surv_inf = clean_corpus(
        spark, src, str(tmp_path / "out_inf"),
        zipf_bands={"max_slope": float("inf"), "top_k": 20},
    )
    # slope <= inf is vacuous, so BOTH sources survive the band; the
    # pipeline's standing exact-dedup still collapses the 3 identical
    # template docs to one survivor: web(2) + farm(1)
    out_inf = [r["source"] for r in surv_inf.collect()]
    assert sorted(out_inf) == ["farm", "web", "web"]


# --- within-doc keep-first dedup (clean_corpus intra_line_dedup stage) -----


def test_intra_doc_line_dedup_parity(spark, sf_dir, duck):
    """The registered form (sep=' ': the flat corpus' actual separator,
    so 'lines' are words and repeats are plentiful) vs the list-lambda
    SQL replay — text behind md5 so the byte-exact rebuild is what the
    hash certifies."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    out = dedup.intra_doc_line_dedup(
        Catalog(spark, sf_dir).documents, sep=" "
    )
    got = out.select(
        "doc_id", F.md5("text").alias("text_md5"), "n_dropped_lines"
    )
    assert got.filter(F.col("n_dropped_lines") > 0).count() > 0  # non-vacuous
    check(got, duck, oracles.intra_doc_line_dedup_sql(sep=" "))


def test_intra_doc_line_dedup_semantics(spark):
    """Hand-checked: the page's own repeated nav line drops (second
    copy), blank-line runs survive (exempt), clean docs pass through
    BYTE-identical, the corpus-global twin would have dropped MORE
    (doc 2's line matches doc 1's — intra-doc keeps it), bad args
    raise."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "nav bar\ncontent one\nnav bar\n\n\ncontent two", "web"),
            (2, "nav bar\nits own content", "web"),
            (3, "clean doc", "web"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {r["doc_id"]: r for r in dedup.intra_doc_line_dedup(docs).collect()}
    assert rows[1]["text"] == "nav bar\ncontent one\n\n\ncontent two"
    assert rows[1]["n_dropped_lines"] == 1
    # intra-doc scope: doc 2 KEEPS its nav bar (doc 1 owns a copy, but
    # no corpus-global key table exists here — that's line_dedup's job)
    assert rows[2]["text"] == "nav bar\nits own content"
    assert rows[2]["n_dropped_lines"] == 0
    assert rows[3]["text"] == "clean doc" and rows[3]["n_dropped_lines"] == 0
    # key normalization: case-insensitive, trim-insensitive
    fold = dedup.intra_doc_line_dedup(
        spark.createDataFrame(
            [(1, "The Nav\n the nav \nbody", "web")],
            "doc_id long, text string, source string",
        )
    ).collect()[0]
    assert fold["text"] == "The Nav\nbody" and fold["n_dropped_lines"] == 1
    with pytest.raises(ValueError, match="min_line_chars"):
        dedup.intra_doc_line_dedup(docs, min_line_chars=0)
    with pytest.raises(ValueError, match="min_line_chars"):
        oracles.intra_doc_line_dedup_sql(min_line_chars=0)


def test_intra_doc_line_dedup_zero_shuffle_plan(spark, sf_dir):
    """The reason it exists beside line_dedup: the whole pass is one
    narrow projection — no Exchange of any kind, no Python, scan
    pruned to the used columns."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    df = dedup.intra_doc_line_dedup(Catalog(spark, sf_dir).documents, sep=" ")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Python" not in p


def test_clean_corpus_intra_line_dedup_stage(spark, tmp_path):
    """clean_corpus(intra_line_dedup=True): the within-doc pass strips a
    doc's OWN repeated line before anything corpus-global runs — doc 1
    loses its duplicate chorus but survives; doc 2's single copy of the
    same line is untouched (intra-doc scope); the rebuilt text is what
    lands in the output parquet."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    rows = [
        (1, "chorus line\nverse one\nchorus line\nverse two", "en", "web", 44),
        (2, "chorus line\nits own verse", "en", "web", 25),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    src = str(tmp_path / "in.parquet")
    docs.write.parquet(src)
    surv = clean_corpus(spark, src, str(tmp_path / "out"), intra_line_dedup=True)
    out = {r["doc_id"]: r["text"] for r in surv.collect()}
    assert out[1] == "chorus line\nverse one\nverse two"
    assert out[2] == "chorus line\nits own verse"


# --- retirement twins (README §Registry capacity, endgame rule 4) ------------


def test_word_count_boundary_jar_exact_tokenizer(spark):
    """Pytest twin pinning word_count_boundary's certified semantics
    (retirement precondition: a registered query may only be retired
    once a local test freezes what its driver gate certified): the
    jar-exact ``\\s*\\b\\s*`` split keeps punctuation RUNS as tokens
    (',' and '!!' count), never glues them to words, and drops
    empties."""
    from pagerank_mapreduce_implementation_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "a, b!! c"), (2, "x,y")], "doc_id long, text string"
    )
    rows = {
        (r["word"], r["cnt"])
        for r in text.word_count(docs, pattern=text.TOKEN_BOUNDARY_RE).collect()
    }
    assert rows == {
        ("a", 1), (",", 2), ("b", 1), ("!!", 1), ("c", 1), ("x", 1), ("y", 1)
    }
