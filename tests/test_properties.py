"""Property-based tests (hypothesis) for the load-bearing invariants
SURVEY.md §5 identifies: the legacy record codec round-trip
(SplitTest.java surface), the wiki page-parse extraction
(PatternTest.java surface), and PageRank semantic parity against a
direct Python simulation of the reference's reducer math
(PageRank.java:454-528).

Each example runs a real (small) Spark job, so example counts are kept
low — the point is randomized coverage of record shapes, not volume.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest
from hypothesis import HealthCheck, given, settings

# slow tier (r17): excluded from the driver's default fast run -- see pytest.ini
pytestmark = pytest.mark.slow
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark.functions import wiki
from pagerank_mapreduce_implementation_spark.operators import dedup, graph
from pagerank_mapreduce_implementation_spark.sources.legacy import (
    decode_pagerank_records,
    encode_pagerank_records,
)

# identifier-ish strings: no delimiter substrings, tabs, or brackets
SAFE = st.text(alphabet="abcdefgh012", min_size=1, max_size=6)

PROP_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)


@settings(**PROP_SETTINGS)
@given(
    pages=st.lists(
        st.tuples(
            SAFE,
            st.floats(min_value=0.0, max_value=10.0, allow_nan=False, width=64),
            st.lists(SAFE, max_size=4),
        ),
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
def test_legacy_codec_round_trip(spark, pages):
    """encode(decode) is the identity on (url, rank, outlinks) — the
    packed `url\\trank,,,,,a#####b` format loses nothing (doubles go
    through Java shortest-round-trip formatting on both engines)."""
    df = spark.createDataFrame(
        pages, "url string, rank double, outlinks array<string>"
    )
    got = {
        r["url"]: r
        for r in decode_pagerank_records(encode_pagerank_records(df)).collect()
    }
    assert len(got) == len(pages)
    for url, rank, outlinks in pages:
        assert got[url]["rank"] == rank
        assert got[url]["outlinks"] == outlinks


@settings(**PROP_SETTINGS)
@given(
    title=SAFE,
    links=st.lists(SAFE, max_size=5),
    attr=st.booleans(),
)
def test_wiki_parse_extracts_title_and_links(spark, title, links, attr):
    """For bracket-free titles/links the parse recovers them exactly and
    in order, with or without attributes on the <text> tag (the
    reference's missing-'>' regex quirk, PageRank.java:391)."""
    tag = '<text xml:space="preserve">' if attr else "<text>"
    line = (
        f"<title>{title}</title> {tag}"
        + "".join(f"[[{x}]]" for x in links)
        + "</text>"
    )
    rows = wiki.parse_pages(
        spark.createDataFrame([(line,)], "line string")
    ).collect()
    assert len(rows) == 1
    assert rows[0]["url"] == title
    assert rows[0]["outlinks"] == links


def _simulate_reference(edges, iters, damping=0.85):
    """The reference's PageRank math, straight from the source: seed
    1/N over distinct srcs, scatter rank/out_degree per edge OCCURRENCE
    (PageRank.java:454-468), damp 0.15 + 0.85*sum (:523), drop red
    links (:527)."""
    vertices = sorted({s for s, _ in edges})
    out_deg = Counter(s for s, _ in edges)
    ranks = {v: 1.0 / len(vertices) for v in vertices}
    for _ in range(iters):
        contrib = defaultdict(float)
        for s, d in edges:
            contrib[d] += ranks[s] / out_deg[s]
        ranks = {
            v: (1.0 - damping) + damping * contrib.get(v, 0.0) for v in vertices
        }
    return ranks


@settings(**PROP_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.sampled_from("abcdef"), st.sampled_from("abcdef")),
        min_size=1,
        max_size=12,
    )
)
def test_pagerank_reference_parity_random_graphs(spark, edges):
    """Spark PageRank == direct simulation of the reference's reducer
    math on random multigraphs (duplicate edges scatter per occurrence,
    red links dropped, no dangling redistribution)."""
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["url"]: r["rank"]
        for r in graph.pagerank(df, n_iters=3).collect()
    }
    want = _simulate_reference(edges, iters=3)
    assert set(got) == set(want)
    for v, r in want.items():
        assert math.isclose(got[v], r, rel_tol=1e-9, abs_tol=1e-12)


@settings(**PROP_SETTINGS)
@given(
    raw=st.lists(
        st.tuples(st.sampled_from("abcd"), st.sampled_from("abcd")),
        min_size=1,
        max_size=10,
    )
)
def test_pagerank_textbook_mass_conservation(spark, raw):
    """Textbook mode keeps the rank vector a probability distribution
    when there are no red links (every dst is a vertex): dangling mass
    is redistributed, so sum(rank) == 1 after any number of steps."""
    srcs = sorted({s for s, _ in raw})
    # remap targets onto the src set -> no red links; dangling possible
    edges = [(s, srcs[hash(d) % len(srcs)]) for s, d in raw]
    df = spark.createDataFrame(edges, "src string, dst string")
    ranks = graph.pagerank(df, n_iters=3, mode="textbook")
    total = ranks.agg(F.sum("rank")).first()[0]
    assert math.isclose(total, 1.0, rel_tol=1e-9)


@settings(**PROP_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4"]), max_size=8),
        min_size=1,
        max_size=5,
    ),
    n=st.integers(min_value=1, max_value=3),
)
def test_shingles_match_python_windows(spark, docs, n):
    """shingles(n) == the distinct n-token windows of each document."""
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["shingle"])
        for r in dedup.shingles(df, n=n).collect()
    }
    want = {
        (i, " ".join(words[j : j + n]))
        for i, words in enumerate(docs)
        for j in range(len(words) - n + 1)
    }
    assert got == want


@settings(**PROP_SETTINGS)
@given(
    left=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 50), st.floats(0, 9)),
        min_size=0,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),  # unique (key, ts): ties are a
        # documented engine-defined rule, excluded from the cross-check
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join == pandas.merge_asof (backward, inclusive) on any
    frame with unique right-side (key, ts)."""
    import datetime as dt

    import pandas as pd

    from pagerank_mapreduce_implementation_spark.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1)
    to_ts = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
    ldf = spark.createDataFrame(
        [(i, k, to_ts(s)) for i, (k, s) in enumerate(left)],
        "id long, k string, ts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, to_ts(s), v) for (k, s, v) in right],
        "k string, ts timestamp, v double",
    )
    got = {
        (r.id, r.v_r)
        for r in asof_join(ldf, rdf, on="k", suffix="_r").collect()
    }

    lp = pd.DataFrame(
        {"id": range(len(left)), "k": [k for k, _ in left],
         "ts": [to_ts(s) for _, s in left]}
    ).sort_values("ts", kind="stable")
    if right:
        rp = pd.DataFrame(
            {"k": [k for k, _, _ in right], "ts": [to_ts(s) for _, s, _ in right],
             "v": [v for _, _, v in right]}
        ).sort_values("ts", kind="stable")
        merged = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        want = {
            (int(row.id), None if pd.isna(row.v) else float(row.v))
            for row in merged.itertuples()
        }
    else:  # empty right: left-outer keeps every row unmatched (pandas
        # can't infer the key dtype of an empty frame)
        want = {(i, None) for i in range(len(left))}
    assert got == want


@settings(**PROP_SETTINGS)
@given(
    left_us=st.lists(st.integers(0, 40), min_size=1, max_size=8, unique=True),
    right_us=st.lists(st.integers(0, 40), min_size=1, max_size=8, unique=True),
    tol_us=st.integers(1, 20),
)
def test_asof_tolerance_boundary_exact(spark, left_us, right_us, tol_us):
    """The tolerance boundary is inclusive-<= in EXACT integer
    microseconds: a match exactly tol away is kept, one microsecond
    further is voided. Timestamps are 0..40 MICROseconds with
    tolerances 1..20, so exact-boundary hits are common, and the pin is
    double-checked against pandas merge_asof's Timedelta tolerance
    (the same integer time math DuckDB's INTERVAL arithmetic uses —
    a double epoch-seconds comparison would disagree on the boundary).
    """
    import pandas as pd

    from pagerank_mapreduce_implementation_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(i, "k", us) for i, us in enumerate(left_us)], "id long, k string, us long"
    ).select("id", "k", F.timestamp_micros("us").alias("ts"))
    rdf = spark.createDataFrame(
        [("k", us, float(us)) for us in right_us], "k string, us long, v double"
    ).select("k", F.timestamp_micros("us").alias("ts"), "v")
    got = {
        (r.id, r.v_r)
        for r in asof_join(
            ldf, rdf, on="k", tolerance_seconds=tol_us / 1_000_000, suffix="_r"
        ).collect()
    }

    # explicit integer model of the documented semantics
    def model(t: int) -> float | None:
        cands = [r for r in right_us if r <= t]
        if not cands or t - max(cands) > tol_us:
            return None
        return float(max(cands))

    want = {(i, model(t)) for i, t in enumerate(left_us)}
    assert got == want

    # independent engine cross-check: pandas merge_asof, Timedelta
    # tolerance (inclusive boundary)
    lp = pd.DataFrame(
        {"id": range(len(left_us)), "k": "k",
         "ts": pd.to_datetime(left_us, unit="us")}
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        {"k": "k", "ts": pd.to_datetime(right_us, unit="us"),
         "v": [float(u) for u in right_us]}
    ).sort_values("ts", kind="stable")
    merged = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="backward",
        tolerance=pd.Timedelta(microseconds=tol_us),
    )
    want_pd = {
        (int(row.id), None if pd.isna(row.v) else float(row.v))
        for row in merged.itertuples()
    }
    assert got == want_pd


@settings(**PROP_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["w1", "w2", "w3", "w4", "w5"]), min_size=0, max_size=10),
        min_size=2,
        max_size=5,
    ),
)
def test_containment_and_jaccard_match_python_sets(spark, docs):
    """ngram_containment_pairs / ngram_jaccard_pairs == the pure-python
    set formulas over every pair of documents (n=1 word sets)."""
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets = {i: set(words) for i, words in enumerate(docs)}
    got_c = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.ngram_containment_pairs(df, 0.0, ngram=1).collect()
    }
    got_j = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, 0.0, ngram=1).collect()
    }
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            if inter == 0:
                assert (a, b) not in got_c and (a, b) not in got_j
                continue
            want_c = round(inter / min(len(sets[a]), len(sets[b])), 6)
            want_j = round(inter / len(sets[a] | sets[b]), 6)
            assert abs(got_c[(a, b)] - want_c) < 1e-9, (a, b)
            assert abs(got_j[(a, b)] - want_j) < 1e-9, (a, b)


@settings(**PROP_SETTINGS)
@given(
    n_toks=st.integers(min_value=0, max_value=40),
    window=st.integers(min_value=1, max_value=10),
    stride=st.integers(min_value=1, max_value=10),
)
def test_chunk_documents_matches_python_windows(spark, n_toks, window, stride):
    """chunk_documents == the python sliding-window formula for any
    (n, window, stride): chunk i holds toks[i*stride : i*stride+window],
    count = min(1 + ceil(max(0, n-window)/stride), 1 + (n-1)//stride)
    (the clamp keeps every chunk start < n, so stride > window can not
    emit an empty trailing chunk), zero-token docs vanish."""
    import math

    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    toks = [f"t{i}" for i in range(n_toks)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    got = {
        r["chunk_id"]: (r["chunk"], r["n_tokens"])
        for r in text_ops.chunk_documents(df, window=window, stride=stride).collect()
    }
    if n_toks == 0:
        assert got == {}
        return
    n_chunks = min(
        1 + math.ceil(max(0, n_toks - window) / stride),
        1 + (n_toks - 1) // stride,
    )
    want = {
        i: (" ".join(toks[i * stride : i * stride + window]),
            len(toks[i * stride : i * stride + window]))
        for i in range(n_chunks)
    }
    assert got == want


@given(
    n_docs=st.integers(min_value=0, max_value=30),
    budget=st.integers(min_value=1, max_value=40),
    bucket_size=st.integers(min_value=1, max_value=10),
    data=st.data(),
)
@settings(max_examples=30, deadline=None)
def test_pack_sequences_matches_flat_prefix_sum(
    spark, n_docs, budget, bucket_size, data
):
    """pack_sequences == the flat python prefix sum over doc_id order,
    for ANY bucket_size — the id-range bucketing is a pure physical
    rewrite of the stream layout, never a semantic knob."""
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    lens = [
        data.draw(st.integers(min_value=0, max_value=9), label=f"len{i}")
        for i in range(n_docs)
    ]
    rows = [(i, " ".join(f"t{j}" for j in range(k))) for i, k in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string") if rows else (
        spark.createDataFrame([], "doc_id long, text string")
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["global_start"], r["bin_id"], r["bin_offset"])
        for r in text_ops.pack_sequences(
            df, budget=budget, bucket_size=bucket_size
        ).collect()
    }
    start = 0
    want = {}
    for i, k in enumerate(lens):
        want[i] = (k, start, start // budget, start % budget)
        start += k
    assert got == want


@given(
    n_docs=st.integers(min_value=0, max_value=25),
    budget=st.integers(min_value=1, max_value=30),
    bucket_size=st.integers(min_value=1, max_value=8),
    data=st.data(),
)
@settings(max_examples=20, deadline=None)
def test_pack_bins_reconstructs_token_stream(
    spark, n_docs, budget, bucket_size, data
):
    """pack_bins invariants for ANY corpus/budget/bucketing: bins in
    order concatenate back to the exact doc-id-ordered token stream,
    every bin but the last holds exactly `budget` tokens, and n_docs
    equals the python count of docs overlapping each bin."""
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    lens = [
        data.draw(st.integers(min_value=0, max_value=7), label=f"len{i}")
        for i in range(n_docs)
    ]
    rows = [(i, " ".join(f"d{i}t{j}" for j in range(k))) for i, k in enumerate(lens)]
    df = spark.createDataFrame(rows, "doc_id long, text string") if rows else (
        spark.createDataFrame([], "doc_id long, text string")
    )
    got = sorted(
        text_ops.pack_bins(df, budget=budget, bucket_size=bucket_size).collect(),
        key=lambda r: r["bin_id"],
    )
    stream = [f"d{i}t{j}" for i, k in enumerate(lens) for j in range(k)]
    if not stream:
        assert got == []
        return
    n_bins = (len(stream) + budget - 1) // budget
    assert [r["bin_id"] for r in got] == list(range(n_bins))
    assert " ".join(r["text"] for r in got).split() == stream
    sizes = [r["n_tokens"] for r in got]
    assert sizes[:-1] == [budget] * (n_bins - 1)
    assert sizes[-1] == len(stream) - budget * (n_bins - 1)
    # n_docs: python truth from doc spans
    spans, start = {}, 0
    for i, k in enumerate(lens):
        if k:
            spans[i] = (start, start + k - 1)
            start += k
    for r in got:
        lo, hi = r["bin_id"] * budget, r["bin_id"] * budget + r["n_tokens"] - 1
        want = sum(1 for a, b in spans.values() if a <= hi and b >= lo)
        assert r["n_docs"] == want, (r["bin_id"], r["n_docs"], want)


@given(
    n_edges=st.integers(min_value=0, max_value=60),
    n_nodes=st.integers(min_value=1, max_value=15),
    data=st.data(),
)
@settings(max_examples=20, deadline=None)
def test_degree_histogram_invariants(spark, n_edges, n_nodes, data):
    """degree_histogram on random multigraphs: sum(deg * n_vertices)
    == edge count, sum(n_vertices) == distinct vertex count, the zero
    row counts exactly the dangling (dst-only) vertices, and duplicate
    edges count like the PageRank scatter (degree 2 for a doubled
    edge)."""
    from pagerank_mapreduce_implementation_spark.operators.graph import (
        degree_histogram,
    )

    edges = [
        (
            f"v{data.draw(st.integers(0, n_nodes - 1), label=f's{i}')}",
            f"v{data.draw(st.integers(0, n_nodes - 1), label=f'd{i}')}",
        )
        for i in range(n_edges)
    ]
    df = (
        spark.createDataFrame(edges, "src string, dst string")
        if edges
        else spark.createDataFrame([], "src string, dst string")
    )
    hist = {r["out_degree"]: r["n_vertices"] for r in degree_histogram(df).collect()}
    if not edges:
        assert hist == {}
        return
    assert sum(d * n for d, n in hist.items()) == len(edges)
    verts = {v for e in edges for v in e}
    assert sum(hist.values()) == len(verts)
    srcs = {s for s, _ in edges}
    dangling = len(verts - srcs)
    assert hist.get(0, 0) == dangling
    from collections import Counter

    out = Counter(s for s, _ in edges)
    want = Counter(out.values())
    for d, n in want.items():
        assert hist[d] == n, (d, hist.get(d), n)


def _py_substring_runs(token_lists: list[list[str]], k: int, min_len: int):
    """Brute-force reference for substring_runs: for each doc pair,
    every maximal diagonal island of matching k-grams (the quadratic
    definition the distributed operator must equal)."""
    out = set()
    grams = [
        {i: " ".join(t[i : i + k]) for i in range(len(t) - k + 1)}
        for t in token_lists
    ]
    for a in range(len(token_lists)):
        for b in range(a + 1, len(token_lists)):
            hits = {
                (ia, ib)
                for ia, ga in grams[a].items()
                for ib, gb in grams[b].items()
                if ga == gb
            }
            for ia, ib in hits:
                if (ia - 1, ib - 1) in hits:
                    continue  # not an island start
                ln = 0
                while (ia + ln, ib + ln) in hits:
                    ln += 1
                match_len = ln + k - 1
                if match_len >= min_len:
                    out.add((a + 1, b + 1, ia, ib, match_len))
    return out


def _py_strip(token_lists: list[list[str]], runs) -> dict[int, tuple[str, int]]:
    spans: dict[int, set] = {i + 1: set() for i in range(len(token_lists))}
    for _a, b, _ia, ib, ln in runs:
        spans[b].update(range(ib, ib + ln))
    out = {}
    for i, toks in enumerate(token_lists):
        did = i + 1
        if spans[did]:
            kept = [w for j, w in enumerate(toks) if j not in spans[did]]
            out[did] = (" ".join(kept), len(toks) - len(kept))
        else:
            out[did] = (" ".join(toks), 0)
    return out


@settings(**PROP_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=14),
        min_size=2,
        max_size=4,
    ),
    k=st.integers(min_value=2, max_value=3),
    extra=st.integers(min_value=0, max_value=2),
)
def test_substring_runs_and_strip_match_bruteforce(spark, docs, k, extra):
    """substring_runs == the quadratic maximal-island definition, and
    strip_substring_runs == span-union removal from the higher-id doc,
    on random corpora over a tiny alphabet (maximally collision-prone:
    repeated grams, multi-diagonal matches, nested islands)."""
    min_len = k + extra
    rows = [(i + 1, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_runs = {
        tuple(r) for r in dedup.substring_runs(df, k=k, min_len=min_len).collect()
    }
    want_runs = _py_substring_runs(docs, k, min_len)
    assert got_runs == want_runs
    got_strip = {
        r.doc_id: (r.text, r.n_stripped)
        for r in dedup.strip_substring_runs(df, k=k, min_len=min_len).collect()
    }
    assert got_strip == _py_strip(docs, want_runs)


@settings(**PROP_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=30),
        min_size=1,
        max_size=10,
    )
)
def test_entropy_stats_matches_bruteforce(spark, texts):
    """entropy_stats' incremental run-boundary fold equals the
    textbook -Σ p log2 p computed in Python over arbitrary (including
    whitespace-only and empty) strings."""
    import math
    from collections import Counter

    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {r.doc_id: r for r in textstats.entropy_stats(docs).collect()}
    for i, t in enumerate(texts):
        c = Counter(t)
        n = sum(c.values())
        ent = (
            round(-sum((k / n) * math.log2(k / n) for k in c.values()), 6)
            if n
            else 0.0
        )
        assert got[i].n_chars == n
        assert got[i].n_distinct_chars == len(c)
        assert got[i].char_entropy == ent


@settings(**PROP_SETTINGS)
@given(
    docs_toks=st.lists(
        st.lists(SAFE, min_size=0, max_size=8), min_size=1, max_size=8
    ),
    k=st.floats(min_value=0.25, max_value=2.0),
)
def test_bigram_lm_matches_bruteforce(spark, docs_toks, k):
    """bigram_lm_scores equals the directly-computed add-k conditional
    model on arbitrary token lists; <2-token docs drop."""
    import math
    from collections import Counter

    from pagerank_mapreduce_implementation_spark.operators import textstats

    rows = [(i, " ".join(ts)) for i, ts in enumerate(docs_toks)]
    got = {
        r.doc_id: r
        for r in textstats.bigram_lm_scores(
            spark.createDataFrame(rows, "doc_id long, text string"), add_k=k
        ).collect()
    }
    c2, c1 = Counter(), Counter()
    vocab = set()
    for ts in docs_toks:
        vocab.update(ts)
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] += 1
            c1[a] += 1
    V = len(vocab)
    for i, ts in enumerate(docs_toks):
        bgs = list(zip(ts, ts[1:]))
        if not bgs:
            assert i not in got
            continue
        nll = round(
            -sum(
                math.log10((c2[bg] + k) / (c1[bg[0]] + k * V)) for bg in bgs
            )
            / len(bgs),
            6,
        )
        assert got[i].n_bigrams == len(bgs)
        assert abs(got[i].nll - nll) <= 1e-6


@settings(**PROP_SETTINGS)
@given(
    texts=st.lists(
        st.lists(SAFE, min_size=0, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    nparts=st.integers(min_value=1, max_value=7),
)
def test_dsir_weights_partition_and_order_invariant(spark, texts, nparts):
    """The DSIR weight of every doc is a pure function of (corpus,
    salts): reversing the row order and forcing an arbitrary
    partitioning leaves every (doc_id, n_grams, log_weight) row
    IDENTICAL — the decimal/round-6 determinism contract."""
    from pagerank_mapreduce_implementation_spark.operators import sampling

    rows = [(i, t) for i, t in enumerate(texts)]
    half = max(1, len(rows) // 2)
    raw_rows, tgt_rows = rows[:half], rows[half:] or rows[:1]

    def run(rws, trws, parts):
        raw = spark.createDataFrame(rws, "doc_id long, text string")
        tgt = spark.createDataFrame(trws, "doc_id long, text string")
        return sorted(
            tuple(r)
            for r in sampling.dsir_weights(
                raw.repartition(parts), tgt, n_buckets=64
            ).collect()
        )

    a = run(raw_rows, tgt_rows, 1)
    b = run(list(reversed(raw_rows)), list(reversed(tgt_rows)), nparts)
    assert a == b


def _cdc_bruteforce(texts, window=3, divisor=16):
    """Direct Python restatement of dedup.cdc_chunks: md5 60-bit token
    hash mod M, polynomial rolling hash over the window ending at each
    position, cut on divisibility, doc end always a boundary."""
    import hashlib

    B, M = dedup.CDC_POLY_BASE, dedup.CDC_POLY_MOD

    def h60(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % M

    out = []
    for doc_id, text in texts:
        toks = [t for t in text.split() if t]
        n = len(toks)
        if n == 0:
            continue
        th = [h60(t) for t in toks]
        cuts = [
            p
            for p in range(window, n + 1)
            if sum(th[p - 1 - j] * B**j for j in range(window)) % M % divisor
            == 0
        ]
        bounds = sorted(set(cuts + [n]))
        start = 1
        for j, b in enumerate(bounds):
            piece = " ".join(toks[start - 1 : b])
            out.append(
                (
                    doc_id,
                    j + 1,
                    hashlib.md5(piece.encode()).hexdigest(),
                    b - start + 1,
                )
            )
            start = b + 1
    return out


@settings(**PROP_SETTINGS)
@given(
    docs=st.lists(
        st.lists(SAFE, min_size=0, max_size=30).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    window=st.integers(min_value=1, max_value=3),
    divisor=st.sampled_from([2, 4, 8]),
)
def test_cdc_chunks_match_bruteforce(spark, docs, window, divisor):
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = sorted(
        tuple(r)
        for r in dedup.cdc_chunks(df, window=window, divisor=divisor).collect()
    )
    want = sorted(_cdc_bruteforce(rows, window=window, divisor=divisor))
    assert got == want


def test_cdc_boundary_shift_immunity(spark):
    """The CDC property fixed-size blocks lack: prepending tokens to a
    document re-chunks only the prefix — every chunk that starts after
    the first cut point at or beyond the insertion is byte-identical
    (same hash), so an incremental crawl re-stores only the edited
    neighborhood."""
    base = "red green blue cyan plum " * 40
    edited = "zzz yyy " + base
    df = spark.createDataFrame(
        [(0, base), (1, edited)], "doc_id: long, text: string"
    )
    ch = dedup.cdc_chunks(df, window=3, divisor=4).collect()
    h0 = [r["chunk_hash"] for r in sorted(ch, key=lambda r: r["chunk_idx"]) if r["doc_id"] == 0]
    h1 = [r["chunk_hash"] for r in sorted(ch, key=lambda r: r["chunk_idx"]) if r["doc_id"] == 1]
    assert len(h0) > 3, "fixture must chunk into several pieces"
    # all but the first chunk of the base doc reappear in the edited
    # doc's chunk stream (the suffix re-aligns after one chunk)
    assert set(h0[1:]) <= set(h1)


def _pq_bruteforce(vecs, m, k, n_iters):
    """Direct Python restatement of similarity.pq_train + pq_encode:
    first-k-by-id seed, squared-L2 argmin with ties to the lowest
    code, id-ordered sequential mean folds."""
    ids = sorted(vecs)
    dims = len(vecs[ids[0]])
    sd = dims // m
    books = [
        [list(vecs[ids[c]][s * sd : (s + 1) * sd]) for c in range(k)]
        for s in range(m)
    ]

    def code_of(subv, book):
        best, bd = 0, float("inf")
        for c, cw in enumerate(book):
            d = 0.0
            for i in range(sd):
                d += (subv[i] - cw[i]) * (subv[i] - cw[i])
            if d < bd:
                best, bd = c, d
        return best

    for _ in range(n_iters):
        members = defaultdict(list)
        for i in ids:
            for s in range(m):
                subv = vecs[i][s * sd : (s + 1) * sd]
                members[(s, code_of(subv, books[s]))].append(subv)
        for (s, c), ms in members.items():
            acc = [0.0] * sd
            for subv in ms:
                for d in range(sd):
                    acc[d] += subv[d]
            books[s][c] = [x / len(ms) for x in acc]
    return books, {
        i: [code_of(vecs[i][s * sd : (s + 1) * sd], books[s]) + 1 for s in range(m)]
        for i in ids
    }


@settings(**PROP_SETTINGS)
@given(
    data=st.data(),
    n=st.integers(min_value=3, max_value=10),
    m=st.sampled_from([1, 2]),
    k=st.integers(min_value=2, max_value=3),
    n_iters=st.integers(min_value=1, max_value=2),
)
def test_pq_train_encode_match_bruteforce(spark, data, n, m, k, n_iters):
    dims = 4
    vecs = {
        i: data.draw(
            st.lists(
                st.floats(
                    min_value=-4, max_value=4, allow_nan=False, width=32
                ),
                min_size=dims,
                max_size=dims,
            )
        )
        for i in range(n)
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id: long, embedding: array<double>",
    )
    from pagerank_mapreduce_implementation_spark.operators import similarity

    books = similarity.pq_train(df, m=m, k=k, n_iters=n_iters)
    got = {
        r["vec_id"]: [int(c) for c in r["codes"].split(",")]
        for r in similarity.pq_encode(df, books).collect()
    }
    want_books, want_codes = _pq_bruteforce(
        {i: [float(x) for x in v] for i, v in vecs.items()}, m, k, n_iters
    )
    assert got == want_codes
    for s in range(m):
        for c in range(k):
            for a, b in zip(books[s][c], want_books[s][c]):
                assert math.isclose(a, b, rel_tol=0, abs_tol=1e-12)


def test_pq_topk_exact_when_vector_is_codeword(spark):
    """A vector that IS one of the seed codewords quantizes with zero
    error in every subspace, so its ADC distance to itself-as-query is
    exactly the table's self-distance: 0."""
    import pytest as _pt

    vecs = [(i, [float(i + 1)] * 8) for i in range(6)]
    df = spark.createDataFrame(vecs, "vec_id: long, embedding: array<double>")
    from pagerank_mapreduce_implementation_spark.operators import similarity

    books = similarity.pq_train(df, m=2, k=6, n_iters=0)
    top = similarity.pq_topk(df, 2, books, k=5).collect()
    by_id = {r["vec_id"]: r["adist"] for r in top}
    # neighbors at +/-1 in every dim: squared L2 = 8 per unit step
    assert by_id[1] == _pt.approx(8.0)
    assert by_id[3] == _pt.approx(8.0)


@settings(**PROP_SETTINGS)
@given(
    totals=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d", "e"]),
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=5,
    ),
    budget=st.floats(min_value=1, max_value=20_000, allow_nan=False),
    cap=st.floats(min_value=0.05, max_value=3.0, allow_nan=False),
)
def test_unimax_waterfall_invariants(totals, budget, cap):
    """The allocation (a) never exceeds epoch_cap epochs of any
    source, (b) never exceeds the total budget, (c) spends the whole
    budget whenever the epoch caps don't bind it lower, and (d) gives
    every source at least its fair share of what remains unless its
    cap binds first (the UniMax fairness property)."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        _unimax_waterfall,
    )

    alloc = _unimax_waterfall(totals, budget, cap)
    assert [s for s, _, _ in alloc] == sorted(
        totals, key=lambda s: (totals[s], s)
    )
    spent = 0.0
    for s, t, b in alloc:
        assert b <= cap * t + 1e-9
        assert b >= 0.0
        spent += b
    assert spent <= budget + 1e-6
    cap_total = sum(cap * t for t in totals.values())
    if cap_total >= budget:
        assert math.isclose(spent, budget, rel_tol=1e-9)
    else:
        assert math.isclose(spent, cap_total, rel_tol=1e-9)


def test_unimax_mix_keeps_whole_sources_above_one_epoch(spark):
    """A budget big enough for >= 1 epoch of every source keeps the
    corpus byte-identical (subsampling engine: upsampling past one
    epoch is the trainer's repeat loop)."""
    from pagerank_mapreduce_implementation_spark.operators import sampling

    rows = [(i, f"w{i} " * 5, f"s{i % 2}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")
    out = sampling.unimax_mix(df, total_budget=1e9, epoch_cap=2.0)
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(10))


def test_unimax_mix_parameter_guards(spark):
    import pytest as _pt

    from pagerank_mapreduce_implementation_spark.operators import sampling

    df = spark.createDataFrame([(1, "x", "s")], "doc_id: long, text: string, source: string")
    with _pt.raises(ValueError, match="total_budget"):
        sampling.unimax_mix(df, total_budget=0.0)
    with _pt.raises(ValueError, match="epoch_cap"):
        sampling.unimax_mix(df, total_budget=10.0, epoch_cap=0.0)


@settings(**PROP_SETTINGS)
@given(
    totals=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=10_000),
        min_size=2,
        max_size=4,
    ),
    budget=st.floats(min_value=10, max_value=20_000, allow_nan=False),
)
def test_temperature_budgets_flatten_toward_uniform(totals, budget):
    """tau=2 budgets sit between proportional (tau=1) and uniform:
    the budget RATIO between any two sources is the sqrt of their
    size ratio, and budgets sum to the total budget."""
    from pagerank_mapreduce_implementation_spark.operators.sampling import (
        temperature_mix,  # noqa: F401 — import check
    )
    import math as m

    ordered = sorted(totals.items())
    sw = 0.0
    for _, t in ordered:
        sw += m.sqrt(float(t))
    alloc = {s: budget * m.sqrt(float(t)) / sw for s, t in ordered}
    assert math.isclose(sum(alloc.values()), budget, rel_tol=1e-9)
    ks = list(alloc)
    for i in range(len(ks) - 1):
        a, b = ks[i], ks[i + 1]
        assert math.isclose(
            alloc[a] / alloc[b],
            m.sqrt(totals[a] / totals[b]),
            rel_tol=1e-9,
        )


@settings(**PROP_SETTINGS)
@given(
    edges=st.lists(st.tuples(SAFE, SAFE), max_size=14),
    n_rounds=st.integers(min_value=0, max_value=4),
)
def test_bfs_matches_python_bfs(spark, edges, n_rounds):
    """graph.bfs_distances == a direct Python level-BFS truncated at
    n_rounds, on arbitrary small directed graphs (duplicates, cycles,
    self-loops included)."""
    if not edges:
        edges = [("a", "b")]
    src0 = edges[0][0]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["url"]: r["dist"]
        for r in graph.bfs_distances(df, [src0], n_rounds=n_rounds).collect()
    }
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    want, frontier = {src0: 0}, {src0}
    for i in range(1, n_rounds + 1):
        nxt = {v for u in frontier for v in adj[u] if v not in want}
        for v in nxt:
            want[v] = i
        frontier = nxt
    assert got == want


@settings(**PROP_SETTINGS)
@given(
    edges=st.lists(st.tuples(SAFE, SAFE), max_size=14),
    k=st.integers(min_value=1, max_value=3),
)
def test_kcore_matches_python_peel(spark, edges, k):
    """graph.kcore (5 rounds, early-exit) == a Python synchronous peel
    run to the fixpoint whenever peeling converges within 5 rounds —
    on graphs this size it always does (checked in the model)."""
    if not edges:
        edges = [("a", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["url"]: r["degree"] for r in graph.kcore(df, k=k, n_rounds=5).collect()
    }
    es = {tuple(sorted((s, d))) for s, d in edges if s != d}
    for rounds in range(5):
        deg = Counter()
        for u, v in es:
            deg[u] += 1
            deg[v] += 1
        keep = {x for x, c in deg.items() if c >= k}
        nes = {(u, v) for u, v in es if u in keep and v in keep}
        if nes == es:
            break
        es = nes
    deg = Counter()
    for u, v in es:
        deg[u] += 1
        deg[v] += 1
    assert got == dict(deg)


@settings(**PROP_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(SAFE, SAFE, st.integers(min_value=1, max_value=9)), max_size=12
    ),
    n_rounds=st.integers(min_value=0, max_value=4),
)
def test_sssp_matches_python_bellman_ford(spark, edges, n_rounds):
    """graph.sssp_weighted == a direct Python Bellman-Ford truncated
    at n_rounds (integer weights keep the float comparison exact)."""
    if not edges:
        edges = [("a", "b", 1)]
    src0 = edges[0][0]
    df = spark.createDataFrame(
        [(s, d, float(w)) for s, d, w in edges], "src string, dst string, w double"
    )
    got = {
        r["url"]: r["dist"]
        for r in graph.sssp_weighted(df, [src0], n_rounds=n_rounds).collect()
    }
    want = {src0: 0.0}
    for _ in range(n_rounds):
        cur = dict(want)
        for s, d, w in edges:
            if s in want and want[s] + w < cur.get(d, math.inf):
                cur[d] = min(cur.get(d, math.inf), want[s] + w)
        want = cur
    assert got == want


@settings(**PROP_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), SAFE, st.floats(0.0, 9.0, allow_nan=False, width=64)),
        max_size=16,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(min_value=1, max_value=4),
)
def test_perplexity_buckets_equal_python_ntile(spark, rows, n):
    """perplexity_buckets == a Python ntile model for every group size
    / bucket count / tie pattern: per source, rows ordered by (nll,
    doc_id), the first ``s mod n`` buckets take one extra row. Docs
    are built so bigram nll is constant, making doc_id the effective
    sort key (ties in the score column are exactly the hard case for
    the fill rule)."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    if not rows:
        rows = [(1, "s", 0.0)]
    docs = spark.createDataFrame(
        [(i, "x y", src) for i, src, _ in rows],
        "doc_id long, text string, source string",
    )
    out = textstats.perplexity_buckets(docs, n_buckets=n).collect()
    got = {r["doc_id"]: (r["source"], r["bucket"]) for r in out}
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r["source"], []).append((r["nll"], r["doc_id"]))
    want = {}
    for src, keys in by_src.items():
        s = len(keys)
        q, extra = divmod(s, n)
        sizes = [q + 1] * extra + [q] * (n - extra)
        ranked = iter(sorted(keys))
        for bucket, size in enumerate(sizes, start=1):
            for _ in range(size):
                want[next(ranked)[1]] = (src, bucket)
    assert got == want and got
    assert {d for d, _s, _ in rows} == set(got)


@settings(**PROP_SETTINGS)
@given(
    old=st.lists(
        st.integers(min_value=-5, max_value=5), min_size=1, max_size=24
    ),
    new=st.lists(
        st.integers(min_value=-5, max_value=5), min_size=1, max_size=24
    ),
    n_buckets=st.sampled_from([1, 2, 7]),
)
def test_ks_drift_matches_python_cdfs(spark, old, new, n_buckets):
    """ks_drift == the straight-line python sup over step-CDFs at
    every distinct value, at any cell count (the two-phase prefix is
    invisible in the result). Integer samples force heavy ties."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    mk = lambda vals: spark.createDataFrame(  # noqa: E731
        [(float(v),) for v in vals], "value double"
    )
    row = relational.ks_drift(mk(old), mk(new), "value", n_buckets=n_buckets).collect()[0]
    values = sorted(set(old) | set(new))
    d = max(
        abs(
            sum(1 for x in old if x <= v) / len(old)
            - sum(1 for x in new if x <= v) / len(new)
        )
        for v in values
    )
    assert row["n_old"] == len(old) and row["n_new"] == len(new)
    assert row["n_values"] == len(values)
    assert abs(row["d_stat"] - round(d, 6)) <= 1e-9


@settings(**PROP_SETTINGS)
@given(
    scores=st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1"]),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=24,
    ),
    n_buckets=st.sampled_from([1, 3, 16]),
)
def test_calibrate_scores_matches_python_percent_rank(spark, scores, n_buckets):
    """calibrate_scores == the textbook (rank-1)/(n-1) with min-rank
    ties per group, at any cell count; constant/singleton groups pin
    to 0. Small integer scores force cross-cell tie pressure."""
    from pagerank_mapreduce_implementation_spark.operators import sampling

    rows = [(i, g, float(s)) for i, (g, s) in enumerate(scores)]
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    got = {
        r["doc_id"]: r["calibrated"]
        for r in sampling.calibrate_scores(
            df, score_col="score", n_buckets=n_buckets
        ).collect()
    }
    by_group: dict = defaultdict(list)
    for i, g, s in rows:
        by_group[g].append((s, i))
    want = {}
    for g, members in by_group.items():
        vals = sorted(s for s, _ in members)
        n = len(members)
        for s, i in members:
            if n == 1 or vals[0] == vals[-1]:
                want[i] = 0.0
            else:
                rank = 1 + sum(1 for v in vals if v < s)
                want[i] = round((rank - 1) / (n - 1), 6)
    assert got == want


@settings(**PROP_SETTINGS)
@given(
    lens=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=16),
    budget=st.sampled_from([1, 7, 10]),
)
def test_packing_report_matches_python_layout(spark, lens, budget):
    """packing_report == a straight-line python replay of the packed
    stream (cumulative starts, per-doc segment spans, ceil-chunked
    padded mode) for any doc-length profile, including zero-token docs
    and budget=1."""
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n))) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    r = text_ops.packing_report(docs, budget=budget).collect()[0]
    starts, cum = [], 0
    for n in lens:
        starts.append(cum)
        cum += n
    total = cum
    n_bins = -(-total // budget) if total else 0
    segs = [
        ((s + n - 1) // budget - s // budget + 1) if n > 0 else 0
        for s, n in zip(starts, lens)
    ]
    pseqs = [-(-n // budget) for n in lens]
    assert r["n_docs"] == len(lens) and r["total_tokens"] == total
    assert r["n_bins"] == n_bins
    assert r["n_split_docs"] == sum(1 for x in segs if x > 1)
    assert r["cross_segments"] == sum(x - 1 for x in segs if x > 0)
    assert r["tail_waste"] == n_bins * budget - total
    assert r["padded_seqs"] == sum(pseqs)
    assert r["pad_tokens"] == sum(pseqs) * budget - total
    if n_bins:
        assert r["pack_waste_rate"] == round(
            (n_bins * budget - total) / (n_bins * budget), 6
        )


@settings(**PROP_SETTINGS)
@given(
    old=st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=20),
    new=st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=20),
)
def test_ks_from_histograms_matches_python(spark, old, new):
    """Binned KS over width-1 histograms of integer samples == the
    raw python sup (width-1 quantization of integers is lossless)."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    mk = lambda vals: spark.createDataFrame(  # noqa: E731
        [(float(v),) for v in vals], "value double"
    )
    got = relational.ks_from_histograms(
        relational.value_histogram(mk(old), "value", 1.0),
        relational.value_histogram(mk(new), "value", 1.0),
    ).collect()[0]
    values = sorted(set(old) | set(new))
    d = max(
        abs(
            sum(1 for x in old if x <= v) / len(old)
            - sum(1 for x in new if x <= v) / len(new)
        )
        for v in values
    )
    assert got["n_old"] == len(old) and got["n_new"] == len(new)
    assert got["n_buckets"] == len(values)
    assert abs(got["d_stat"] - round(d, 6)) <= 1e-9


@settings(**PROP_SETTINGS)
@given(
    parts=st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=10**20 - 1).map(str),
            st.sampled_from(["pay", "ref", "end", "4111-1111-1111-1111",
                             "12 3456 7890 123", "x9y"]),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_luhn_scan_matches_python_regex(spark, parts):
    """Candidate extraction and checksum agree with python's re (Java
    and RE2 semantics coincide on this pattern — the parity tests pin
    the RE2 side; this fuzzes the Java side) over random digit runs of
    every length, separator-grouped numbers, and non-digit noise."""
    import re as _re

    from pagerank_mapreduce_implementation_spark.operators import redaction

    text = " ".join(parts)
    rows = redaction.luhn_scan(
        spark.createDataFrame([(1, text)], "doc_id long, text string")
    ).collect()
    got = sorted((r["card_digits"], r["luhn_valid"]) for r in rows)

    def py_luhn(ds):
        s = 0
        for i, ch in enumerate(reversed(ds), start=1):
            d = ord(ch) - 48
            if i % 2 == 0:
                d = 2 * d - 9 if 2 * d > 9 else 2 * d
            s += d
        return s % 10 == 0

    want = sorted(
        (ds, py_luhn(ds))
        for ds in (
            _re.sub(r"[^0-9]", "", m)
            for m in _re.findall(r"\b\d(?:[ -]?\d){12,18}\b", text)
        )
    )
    assert got == want


@settings(**PROP_SETTINGS)
@given(
    words=st.lists(
        st.sampled_from(["join", "scan", "stream", "bird", "JOIN", "Table", "rock"]),
        min_size=0,
        max_size=20,
    )
)
def test_classify_domains_matches_python_argmax(spark, words):
    """The integer-encoded argmax == a python reference (max hits,
    lexicographically-largest domain on ties, NULL on zero hits) over
    random case-folded keyword streams."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    tax = textstats.DEFAULT_TAXONOMY
    text = " ".join(words)
    row = textstats.classify_domains(
        spark.createDataFrame([(1, text)], "doc_id long, text string")
    ).collect()[0]
    low = [w.lower() for w in words]
    hits = {d: sum(1 for w in low if w in kws) for d, kws in
            {k: [x.lower() for x in v] for k, v in tax.items()}.items()}
    total = sum(hits.values())
    best = max(sorted(tax), key=lambda d: (hits[d], d))
    if hits[best] == 0:
        assert (row["domain"], row["hits"], row["total_hits"], row["confidence"]) == (
            None, 0, total, None
        )
    else:
        assert row["domain"] == best and row["hits"] == hits[best]
        assert row["total_hits"] == total
        assert row["confidence"] == round(hits[best] / total, 6)
