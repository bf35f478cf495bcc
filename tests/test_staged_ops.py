"""Round-11 STAGED operators — built this round, registered next round
when the driver window has free slots (the round-8 capacity policy).
Until then this file is their correctness gate: DuckDB-oracle parity
at sf0.001 through the same normalize/compare the registry harness
uses, plus semantic unit tests on hand-checkable fixtures."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

# slow tier (r17): excluded from the driver's default fast run -- see pytest.ini
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark import oracles
from pagerank_mapreduce_implementation_spark.operators import dedup, graph, text, textstats
from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_BIP = (
    "SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src, "
    "'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem"
)
_BIP_W = (
    "SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src, "
    "'p' || CAST(l_partkey AS VARCHAR) AS dst, "
    "CAST(l_quantity AS DOUBLE) AS w FROM lineitem"
)
_BIP_W_BIDIR = (
    f"SELECT src, dst, w FROM ({_BIP_W}) "
    f"UNION ALL SELECT dst AS src, src AS dst, w FROM ({_BIP_W})"
)


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


def _bip_edges(spark, sf_dir, weighted=False, bidir=False):
    li = Catalog(spark, sf_dir).lineitem
    cols = [
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    ]
    if weighted:
        cols.append(F.col("l_quantity").cast("double").alias("w"))
    e = li.select(*cols)
    if bidir:
        rev = [F.col("dst").alias("src"), F.col("src").alias("dst")] + (
            [F.col("w")] if weighted else []
        )
        e = e.unionByName(e.select(*rev))
    return e


# --- oracle parity (sf0.001, the registry harness comparison) -------------


def test_trigram_lm_parity(spark, sf_dir, duck):
    got = textstats.trigram_lm_scores(Catalog(spark, sf_dir).documents)
    check(got, duck, oracles.trigram_lm_sql())


def test_mad_outliers_parity(spark, sf_dir, duck):
    docs = Catalog(spark, sf_dir).documents
    q = textstats.quality_scores(docs, score_only=True)
    staged = q.join(docs.select("doc_id", "source"), "doc_id")
    got = textstats.mad_outliers(staged)
    quality_sql = (
        "WITH t AS (SELECT doc_id, text, "
        r"list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS toks "
        "FROM documents), q AS (SELECT doc_id, "
        "CAST(length(text) AS INT) AS n_chars, len(toks) AS n_tokens, "
        r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS punct, "
        "len(list_filter(toks, w -> list_contains("
        + oracles_stoplist_sql()
        + ", lower(w)))) AS stop FROM t) "
        "SELECT doc_id, "
        "round(0.4 * least(1.0, CAST(n_tokens AS DOUBLE)/100) "
        "+ 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE)/n_chars ELSE 0.0 END)) "
        "+ 0.3 * (1.0 - (CASE WHEN n_tokens > 0 THEN CAST(stop AS DOUBLE)/n_tokens ELSE 0.0 END)), 6) AS quality "
        "FROM q"
    )
    check(got, duck, oracles.mad_outliers_sql(quality_sql))


def oracles_stoplist_sql():
    from pagerank_mapreduce_implementation_spark.operators.textstats import STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def test_sssp_weighted_parity(spark, sf_dir, duck):
    got = graph.sssp_weighted(
        _bip_edges(spark, sf_dir, weighted=True, bidir=True), ["o1"], n_rounds=4
    )
    check(got, duck, oracles.sssp_weighted_sql(["o1"], _BIP_W_BIDIR, n_rounds=4))


def test_clustering_coefficients_parity(spark, sf_dir, duck):
    import __spark_entry__ as entry

    got = graph.clustering_coefficients(entry._edges(spark, sf_dir))
    check(got, duck, oracles.clustering_coefficients_sql())


def test_bipartite_projection_parity(spark, sf_dir, duck):
    got = graph.bipartite_projection(
        _bip_edges(spark, sf_dir), min_shared=2, max_right_degree=64
    )
    check(got, duck, oracles.bipartite_projection_sql(_BIP, 2, 64))


def test_edit_verified_dups_parity(spark, sf_dir, duck):
    got = dedup.edit_verified_dups(
        Catalog(spark, sf_dir).documents, max_dist=40, threshold=0.5, ngram=5
    )
    check(got, duck, oracles.edit_verified_dups_sql(max_dist=40))


def test_bpe_fertility_parity(spark, sf_dir, duck):
    got = text.bpe_fertility(Catalog(spark, sf_dir).documents)
    check(got, duck, oracles.bpe_fertility_sql())


# --- semantics on hand-checkable fixtures ---------------------------------


def test_sssp_weighted_takes_lighter_longer_path(spark):
    """The frontier-only BFS rewrite would MISS the improvement of an
    already-settled vertex — weighted SSSP must relax from the full
    table: a->c direct costs 10, a->b->c costs 3."""
    e = spark.createDataFrame(
        [("a", "c", 10.0), ("a", "b", 1.0), ("b", "c", 2.0)],
        "src string, dst string, w double",
    )
    out = {r["url"]: r["dist"] for r in graph.sssp_weighted(e, ["a"], 3).collect()}
    assert out == {"a": 0.0, "b": 1.0, "c": 3.0}


def test_sssp_round_budget_bounds_hops(spark):
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "d", 1.0)],
        "src string, dst string, w double",
    )
    out = {r["url"]: r["dist"] for r in graph.sssp_weighted(e, ["a"], 2).collect()}
    assert out == {"a": 0.0, "b": 1.0, "c": 2.0}


def test_clustering_coefficients_known_graph(spark):
    """K4 minus an edge: the two hub vertices (a, b) see 2 triangles
    over deg 3 -> 2/3; c and d sit in 1 triangle at deg 2 -> 1.0."""
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")],
        "src string, dst string",
    )
    out = {r["url"]: r["clustering"] for r in graph.clustering_coefficients(e).collect()}
    assert out == {"a": pytest.approx(2 / 3, abs=1e-6), "b": pytest.approx(2 / 3, abs=1e-6), "c": 1.0, "d": 1.0}


def test_bipartite_projection_cap_and_threshold(spark):
    """o1/o2 share p1,p2 (shared=2); p9 touches everything (degree 3)
    and is dropped by cap=2, removing its contribution."""
    e = spark.createDataFrame(
        [("o1", "p1"), ("o1", "p2"), ("o2", "p1"), ("o2", "p2"),
         ("o1", "p9"), ("o2", "p9"), ("o3", "p9")],
        "src string, dst string",
    )
    out = {
        (r["a"], r["b"]): r["shared"]
        for r in graph.bipartite_projection(e, min_shared=2, max_right_degree=2).collect()
    }
    assert out == {("o1", "o2"): 2}
    uncapped = {
        (r["a"], r["b"]): r["shared"]
        for r in graph.bipartite_projection(e, min_shared=1, max_right_degree=None).collect()
    }
    assert uncapped[("o1", "o2")] == 3 and uncapped[("o1", "o3")] == 1
    with pytest.raises(ValueError):
        graph.bipartite_projection(e, min_shared=0)


def test_edit_verified_dups_verifies_order(spark):
    """Shingle-identical but reordered docs pass MinHash and FAIL the
    edit verify — the whole point of the second stage."""
    s1 = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, s1),
        (2, s1 + " iota"),  # true near-dup: small edit
        (3, "epsilon zeta eta theta alpha beta gamma delta"),  # reordered
        (4, "completely unrelated text about benchmarks"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    candidates = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_near_dups(docs, threshold=0.3, ngram=1).select("doc_a", "doc_b").collect()
    }
    assert (1, 3) in candidates  # the sketch cannot see order
    verified = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in dedup.edit_verified_dups(docs, max_dist=10, threshold=0.3, ngram=1).collect()
    }
    assert (1, 2) in verified and verified[(1, 2)] == 5
    assert (1, 3) not in verified
    with pytest.raises(ValueError):
        dedup.edit_verified_dups(docs, max_dist=-1)


def test_trigram_needs_three_tokens_and_guards(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    out = textstats.trigram_lm_scores(docs).collect()
    assert [r["doc_id"] for r in out] == [2] and out[0]["n_trigrams"] == 1
    with pytest.raises(ValueError):
        textstats.trigram_lm_scores(docs, add_k=0)


def test_mad_outliers_flags_the_planted_point(spark):
    rows = [(i, "s1", 1.0 + i / 100.0) for i in range(9)] + [(99, "s1", 50.0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    out = {r["doc_id"]: r["is_outlier"] for r in textstats.mad_outliers(df).collect()}
    assert out[99] is True
    assert sum(1 for v in out.values() if v) == 1


_SEQ = iter(range(1_000_000))


def test_streaming_lm_probe_equals_batch_scorer(spark, sf_dir, duck):
    """Stream the documents table through the probe against the
    batch-trained bigram table: result == batch bigram_lm_scores ==
    the registered bigram_lm oracle (the streaming_search shared-
    oracle gate pattern)."""
    from pagerank_mapreduce_implementation_spark import streaming as strm

    scored = textstats.bigram_surprisal_table(Catalog(spark, sf_dir).documents)
    stream = strm.queries.read_table_stream(spark, sf_dir, "documents")
    probe = strm.queries.streaming_lm_probe(stream, scored)
    name = f"lm_probe_{next(_SEQ)}"
    strm.queries.run_to_memory(probe, name, output_mode="complete", state_partitions=8)
    got = spark.table(name)
    check(got, duck, oracles.bigram_lm_sql())
