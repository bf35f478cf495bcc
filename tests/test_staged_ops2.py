"""Second STAGED cohort (built mid-round-11, registered when the
driver window frees slots — the round-8 capacity policy): embedding
utilities (matryoshka truncation, exact mean pooling, the distributed
gram pass, PCA on top), the seeded deterministic training order, and
the generic table profiler. Until registered this file is their
correctness gate: DuckDB-oracle parity at sf0.001 through the same
normalize/compare the registry harness uses, plus numpy parity for the
non-SQL-expressible PCA and semantic unit tests on hand-checkable
fixtures."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

# slow tier (r17): excluded from the driver's default fast run -- see pytest.ini
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark import oracles
from pagerank_mapreduce_implementation_spark.operators import (
    embeddings as emb_ops,
    relational,
    sampling,
)
from pagerank_mapreduce_implementation_spark.sources.catalog import Catalog

TABLES = ["lineitem", "events", "documents", "embeddings"]


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
    # the driver hashes STRINGIFIED values: int-vs-float kind drift
    # (DuckDB HUGEINT sums land as float64) hash-mismatches there even
    # when assert_frame_equal calls the values equal (the r5 lesson;
    # this guard caught the jsonl_roundtrip oracle in r13)
    for col in got.columns:
        gk, wk = got[col].dtype.kind, want[col].dtype.kind
        assert not ((gk in "iu" and wk == "f") or (gk == "f" and wk in "iu")), (
            f"{col}: integer-vs-float divergence ({got[col].dtype} vs {want[col].dtype})"
        )


def _dec_join(col: str) -> F.Column:
    return F.array_join(
        F.transform(
            F.col(col), lambda x: x.cast("decimal(18,6)").cast("string")
        ),
        ",",
    )


# ---------------------------------------------------------------- oracle parity


def test_truncate_embeddings_parity(spark, sf_dir, duck):
    out = emb_ops.truncate_embeddings(
        Catalog(spark, sf_dir).embeddings, dims=16
    ).select("vec_id", _dec_join("embedding").alias("emb"))
    check(out, duck, oracles.truncate_embeddings_sql(dims=16))


def test_mean_pool_exact_parity(spark, sf_dir, duck):
    out = emb_ops.mean_pool_embeddings(
        Catalog(spark, sf_dir).embeddings, exact=True
    ).select("label", "n", _dec_join("centroid").alias("centroid"))
    check(out, duck, oracles.mean_pool_sql(dims=64))


def test_training_order_parity(spark, sf_dir, duck):
    out = sampling.training_order(Catalog(spark, sf_dir).documents)
    check(out, duck, oracles.training_order_sql())


def test_profile_table_parity(spark, sf_dir, duck):
    cols = [
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        "l_shipdate",
    ]
    out = relational.profile_table(Catalog(spark, sf_dir).lineitem, cols)
    check(out, duck, oracles.profile_table_sql("lineitem", cols))


def test_profile_table_documents_parity(spark, sf_dir, duck):
    cols = ["doc_id", "lang", "source", "n_chars"]
    out = relational.profile_table(Catalog(spark, sf_dir).documents, cols)
    check(out, duck, oracles.profile_table_sql("documents", cols))


# ---------------------------------------------------------------- semantics


def test_truncate_renorm_unit_norm_and_zero_guard(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 100.0]), (2, [0.0, 0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["embedding"]
        for r in emb_ops.truncate_embeddings(df, dims=2).collect()
    }
    assert rows[1] == pytest.approx([0.6, 0.8])  # renormed 3-4-5
    assert rows[2] == [0.0, 0.0]  # zero prefix untouched, no div-by-0
    with pytest.raises(ValueError):
        emb_ops.truncate_embeddings(df, dims=0)


def test_truncate_short_vectors_kept_whole(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 1.0])], "vec_id long, embedding array<double>"
    )
    (r,) = emb_ops.truncate_embeddings(df, dims=5).collect()
    assert r["embedding"] == pytest.approx([0.5**0.5, 0.5**0.5])


def test_mean_pool_default_matches_exact(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    fast = {
        r["label"]: (r["n"], r["centroid"])
        for r in emb_ops.mean_pool_embeddings(emb).collect()
    }
    slow = {
        r["label"]: (r["n"], r["centroid"])
        for r in emb_ops.mean_pool_embeddings(emb, exact=True).collect()
    }
    assert fast.keys() == slow.keys()
    for k in fast:
        assert fast[k][0] == slow[k][0]
        assert np.allclose(fast[k][1], slow[k][1], atol=1e-9)


def test_mean_pool_empty_input(spark):
    df = spark.createDataFrame([], "label int, vec_id long, embedding array<float>")
    assert emb_ops.mean_pool_embeddings(df).collect() == []


def test_embedding_gram_matches_numpy(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    fast = {(r["i"], r["j"]): r["g"] for r in emb_ops.embedding_gram(emb).collect()}
    x = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    g = x.T @ x
    assert set(fast) == {(i, j) for i in range(len(g)) for j in range(i, len(g))}
    for (i, j), v in fast.items():
        assert abs(v - g[i, j]) <= 1e-7 * max(1.0, abs(g[i, j]))


def test_pca_matches_numpy(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    vals, comps, n, mu_fit = emb_ops.pca_components(emb, k=4)
    x = np.array(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    assert n == len(x)
    cov = np.cov(x, rowvar=False, bias=True)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:4]
    assert np.allclose(vals, evals, rtol=1e-8, atol=1e-10)
    assert sorted(vals, reverse=True) == vals
    for c, lam in zip(comps, vals):
        assert np.isclose(np.linalg.norm(c), 1.0)
        # eigenvector check: cov @ c == lambda * c
        assert np.allclose(cov @ np.array(c), lam * np.array(c), atol=1e-8)
        # sign canon: the largest-|.| coordinate is positive
        c = np.array(c)
        assert c[int(np.argmax(np.abs(c)))] > 0
    proj = {
        r["vec_id"]: np.array(r["proj"])
        for r in emb_ops.pca_project(emb, k=4).collect()
    }
    mu = x.mean(axis=0)
    assert np.allclose(mu_fit, mu, atol=1e-9)
    want = (x - mu) @ np.array(comps).T
    ids = sorted(proj)
    got = np.array([proj[i] for i in ids])
    assert np.allclose(got, want, atol=1e-6)


def test_pca_basis_literals_match_sf0001_fit(spark):
    """Provenance gate for the frozen registry basis: the
    ``_PCA_COMPONENTS`` / ``_PCA_MEANS`` literals behind the registered
    ``pca_project`` query must equal a FRESH ``pca_components(k=4)``
    fit on the sf0.001 snapshot they were frozen from (tolerance
    covers the default gram path's ~1e-12 cross-partition noise). A
    testdata regeneration that moves the embeddings fails here loudly
    — rerun scripts/refit_pca_basis.py and paste the new constants."""
    import __spark_entry__ as entrymod

    emb = Catalog(spark, "/root/testdata/sf0.001").embeddings
    _, comps, _, mu = emb_ops.pca_components(emb, k=4)
    assert np.allclose(entrymod._PCA_MEANS, mu, rtol=0, atol=1e-9)
    assert np.allclose(
        entrymod._PCA_COMPONENTS, np.array(comps), rtol=0, atol=1e-8
    )


def test_pca_project_reuses_fit(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 2.0 * i, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    comps = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    rows = {
        r["vec_id"]: r["proj"]
        for r in emb_ops.pca_project(
            df, components=comps, means=[0.0, 0.0, 0.0]
        ).collect()
    }
    assert rows[3] == pytest.approx([3.0, 6.0])
    with pytest.raises(ValueError):
        emb_ops.pca_project(df, components=comps, means=None)
    with pytest.raises(ValueError):
        emb_ops.pca_components(df, k=9)


def test_training_order_is_permutation_and_seeded(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    n = docs.count()
    out = sampling.training_order(docs)
    pos = [r["position"] for r in out.collect()]
    assert sorted(pos) == list(range(1, n + 1))
    a = {r["doc_id"]: r["position"] for r in out.collect()}
    b = {
        r["doc_id"]: r["position"]
        for r in sampling.training_order(docs, seed="other").collect()
    }
    assert a != b  # a different seed is a different shuffle
    # partitioning-independent: same order after a repartition
    c = {
        r["doc_id"]: r["position"]
        for r in sampling.training_order(docs.repartition(7)).collect()
    }
    assert a == c
    with pytest.raises(ValueError):
        sampling.training_order(docs, n_buckets=0)


def test_profile_table_counts_nulls_and_guards(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "k int, s string"
    )
    rows = {r["col_name"]: r for r in relational.profile_table(df).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_value"] == "1" and rows["k"]["max_value"] == "3"
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in relational.profile_table(df, exact=False).collect()
    }
    assert approx["k"] == 3  # HLL exact at tiny cardinalities
    with pytest.raises(ValueError):
        relational.profile_table(df, ["nope"])
    with pytest.raises(ValueError):
        relational.profile_table(df, [])


# ---------------------------------------------------------------- plan shapes


def _final_plan(df) -> str:
    df.collect()  # AQE: read the final plan, not the initial one
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("+- == Initial Plan ==")[0]
    )


def test_truncate_embeddings_zero_shuffle(spark, sf_dir):
    plan = _final_plan(
        emb_ops.truncate_embeddings(Catalog(spark, sf_dir).embeddings, dims=16)
    )
    assert "Exchange" not in plan  # pure per-row projection


def test_training_order_no_global_sort(spark, sf_dir):
    plan = _final_plan(sampling.training_order(Catalog(spark, sf_dir).documents))
    # the corpus is ranked inside hash-partitioned coin buckets...
    assert "hashpartitioning(__bucket" in plan
    # ...never range-sorted globally (the single-task shape we avoid)
    assert "rangepartitioning" not in plan
    # bucket offsets come back as a broadcast, not a corpus shuffle
    assert "BroadcastHashJoin" in plan
    # the only single-partition funnel is the tiny bucket-counts window
    assert plan.count("Exchange SinglePartition") <= 1


def test_profile_table_one_scan_and_expand_contract(spark, sf_dir):
    li = Catalog(spark, sf_dir).lineitem
    cols = ["l_orderkey", "l_returnflag"]
    exact = _final_plan(relational.profile_table(li, cols))
    assert "Expand" in exact  # documented cost of count(DISTINCT ...)
    approx = _final_plan(relational.profile_table(li, cols, exact=False))
    assert "Expand" not in approx  # HLL mode: one pass, no expand
    assert approx.count("FileScan") == 1


def test_embedding_gram_one_shuffle(spark, sf_dir):
    plan = _final_plan(emb_ops.embedding_gram(Catalog(spark, sf_dir).embeddings))
    assert "MapInPandas" in plan
    # one d^2-keyed shuffle over partition-sized partials, nothing else
    assert plan.count("hashpartitioning") == 1


# ---------------------------------------------------------------- jsonl roundtrip


def test_jsonl_roundtrip_parity(spark, sf_dir, duck, tmp_path):
    """documents -> JSONL shards -> read back with an explicit schema ->
    per-source rollup, vs DuckDB over the original parquet: the
    training-data interchange format (JSON lines) preserves content
    through a write/read cycle."""
    from pagerank_mapreduce_implementation_spark.sources.catalog import read_json, write_json

    docs = Catalog(spark, sf_dir).documents
    path = str(tmp_path / "docs_jsonl")
    write_json(docs, path)
    back = read_json(
        spark, path, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )
    check(
        out,
        duck,
        "SELECT source, count(*) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS chars, "
        "CAST(sum(length(text)) AS BIGINT) AS text_chars, "
        "min(doc_id) AS min_id, "
        "max(doc_id) AS max_id FROM documents GROUP BY source",
    )


def test_curriculum_order_parity(spark, sf_dir, duck):
    out = sampling.curriculum_order(
        Catalog(spark, sf_dir).documents, "n_chars", [200.0, 500.0]
    )
    check(out, duck, oracles.curriculum_order_sql())


def test_curriculum_order_semantics(spark):
    rows = [(i, float(s)) for i, s in enumerate([10, 900, 300, 40, 700, 250])]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    out = sampling.curriculum_order(df, "score", [100.0, 500.0]).collect()
    by_id = {r["doc_id"]: r for r in out}
    # highest scores first: >=500 -> stage 0, [100,500) -> 1, <100 -> 2
    assert {i: by_id[i]["stage"] for i in by_id} == {
        0: 2, 1: 0, 2: 1, 3: 2, 4: 0, 5: 1,
    }
    # positions are a permutation and respect the stage blocks
    assert sorted(r["position"] for r in out) == list(range(1, 7))
    for r in out:
        lower = sum(1 for q in out if q["stage"] < r["stage"])
        upper = lower + sum(1 for q in out if q["stage"] == r["stage"])
        assert lower < r["position"] <= upper
    with pytest.raises(ValueError):
        sampling.curriculum_order(df, "score", [])
    with pytest.raises(ValueError):
        sampling.curriculum_order(df, "score", [5.0, 1.0])
    with pytest.raises(ValueError):
        sampling.curriculum_order(df, "score", [1.0], n_buckets=0)


# ------------------------------------------------- cross-impl properties


def _py_coin(seed: str, key) -> float:
    """The 52-bit md5 coin, reimplemented from the spec in pure python
    — an ENGINE-INDEPENDENT reference for the ordering properties."""
    import hashlib

    h = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:13]
    return int(h, 16) / float(1 << 52)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PROP = dict(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)


@settings(**_PROP)
@given(
    ids=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    n_buckets=st.sampled_from([1, 3, 1024]),
    seed=st.sampled_from(["a", "torder"]),
)
def test_training_order_matches_pure_python(spark, ids, n_buckets, seed):
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["position"]
        for r in sampling.training_order(
            df, seed=seed, n_buckets=n_buckets
        ).collect()
    }
    order = sorted(ids, key=lambda i: (_py_coin(seed, i), i))
    want = {i: p + 1 for p, i in enumerate(order)}
    assert got == want


@settings(**_PROP)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=64
            ),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
)
def test_curriculum_order_matches_pure_python(spark, rows):
    bounds = [-10.0, 0.0, 50.0]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    got = {
        r["doc_id"]: (r["stage"], r["position"])
        for r in sampling.curriculum_order(df, "score", bounds).collect()
    }

    def stage_of(s):
        return len(bounds) - sum(1 for b in bounds if s >= b)

    order = sorted(
        rows, key=lambda t: (stage_of(t[1]), _py_coin("curriculum", t[0]), t[0])
    )
    want = {
        i: (stage_of(s), p + 1) for p, (i, s) in enumerate(order)
    }
    assert got == want


def test_curriculum_order_null_scores_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 900.0), (2, None), (3, 10.0)], "doc_id long, score double"
    )
    out = {
        r["doc_id"]: r["stage"]
        for r in sampling.curriculum_order(df, "score", [100.0]).collect()
    }
    # NULL clears no threshold -> lowest-score stage (last, descending)
    assert out == {1: 0, 2: 1, 3: 1}


def test_profile_drift_parity(spark, sf_dir, duck):
    li = Catalog(spark, sf_dir).lineitem
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    old = li.filter(F.col("l_orderkey") % 3 != 0)
    out = relational.profile_drift(old, li, cols)
    check(
        out,
        duck,
        oracles.profile_drift_sql("lineitem", cols, "l_orderkey % 3 <> 0"),
    )


def test_profile_drift_flags_planted_drift(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    new = spark.createDataFrame(
        [(1, "a"), (None, "b"), (9, "b")], "k int, s string"
    )
    rows = {r["col_name"]: r for r in relational.profile_drift(old, new).collect()}
    k = rows["k"]
    assert (k["n_nulls_old"], k["n_nulls_new"]) == (0, 1)
    assert k["null_rate_delta"] == pytest.approx(1 / 3, abs=1e-6)
    assert k["range_changed"]  # max 2 -> 9
    s = rows["s"]
    assert not s["range_changed"]  # min a / max b both sides
    assert s["null_rate_delta"] == 0.0
    with pytest.raises(ValueError):
        relational.profile_drift(old, new.drop("s"), ["s"])


def test_bigram_pmi_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    out = textstats.bigram_pmi(Catalog(spark, sf_dir).documents, min_count=2)
    check(out, duck, oracles.bigram_pmi_sql(min_count=2))


def test_bigram_pmi_semantics(spark):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    # "new york" always co-occurs (perfect collocation); "the x"
    # pairs spread over many right words (low association)
    docs = spark.createDataFrame(
        [
            (1, "new york the a the b"),
            (2, "new york the c the d"),
            (3, "new york the e the f"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["w1"], r["w2"]): r
        for r in textstats.bigram_pmi(docs, min_count=1).collect()
    }
    ny = rows[("new", "york")]
    assert ny["c2"] == 3
    # all mass of both marginals is the pair itself: pmi = log10(N/c2)
    n = sum(r["c2"] for r in rows.values())
    assert ny["pmi"] == pytest.approx(np.log10(n / 3), abs=1e-6)
    # the dispersed left marginal drags "the"-pairs below the collocation
    assert all(
        rows[p]["pmi"] < ny["pmi"] for p in rows if p[0] == "the"
    )
    with pytest.raises(ValueError):
        textstats.bigram_pmi(docs, min_count=0)


def test_key_skew_report_parity(spark, sf_dir, duck):
    out = relational.key_skew_report(
        Catalog(spark, sf_dir).lineitem, ["l_returnflag", "l_linestatus"], top_n=10
    )
    check(
        out,
        duck,
        oracles.key_skew_report_sql(
            "lineitem", ["l_returnflag", "l_linestatus"], top_n=10
        ),
    )


def test_key_skew_report_semantics_and_plan(spark):
    df = spark.createDataFrame(
        [("hot",)] * 8 + [("a",), ("b",)], "k string"
    )
    rows = relational.key_skew_report(df, "k", top_n=2).collect()
    assert [(r["k"], r["n_rows"]) for r in rows] == [("hot", 8), ("a", 1)]
    assert rows[0]["share"] == pytest.approx(0.8, abs=1e-9)
    plan = _final_plan(relational.key_skew_report(df, "k", top_n=2))
    assert "TakeOrderedAndProject" in plan  # top-n, never a global sort
    with pytest.raises(ValueError):
        relational.key_skew_report(df, [], top_n=2)
    with pytest.raises(ValueError):
        relational.key_skew_report(df, "k", top_n=0)


_BIP = (
    "SELECT 'o' || CAST(l_orderkey AS VARCHAR) AS src, "
    "'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem"
)
_BIP_BIDIR = (
    f"SELECT src, dst FROM ({_BIP}) "
    f"UNION ALL SELECT dst AS src, src AS dst FROM ({_BIP})"
)


def test_source_centrality_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import graph

    li = Catalog(spark, sf_dir).lineitem
    e = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    bidir = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    srcs = [
        "o" + str(r["l_orderkey"])
        for r in li.select("l_orderkey").distinct().orderBy("l_orderkey").limit(2).collect()
    ]
    out = graph.source_centrality(bidir, srcs, n_rounds=4)
    check(out, duck, oracles.source_centrality_sql(srcs, _BIP_BIDIR, n_rounds=4))


def test_source_centrality_hand_graph(spark):
    from pagerank_mapreduce_implementation_spark.operators import graph

    # path a -> b -> c -> d
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    rows = {r["source"]: r for r in graph.source_centrality(e, ["a", "d"]).collect()}
    a = rows["a"]
    assert a["n_reached"] == 3
    assert a["harmonic"] == pytest.approx(1 + 0.5 + 1 / 3, abs=1e-6)
    assert a["closeness"] == pytest.approx(3 / 6, abs=1e-9)
    d = rows["d"]  # directed: d reaches nothing
    assert (d["n_reached"], d["harmonic"], d["closeness"]) == (0, 0.0, 0.0)
    with pytest.raises(ValueError):
        graph.source_centrality(e, [])


def test_validate_table_parity(spark, sf_dir, duck):
    rules = {
        "qty_range": "l_quantity BETWEEN 1 AND 50",
        "key_present": "l_orderkey IS NOT NULL",
        "flag_domain": "l_returnflag IN ('A', 'N', 'R')",
        "price_positive": "l_extendedprice > 0",
        "impossible": "l_quantity > 1000",
    }
    out = relational.validate_table(Catalog(spark, sf_dir).lineitem, rules)
    check(out, duck, oracles.validate_table_sql("lineitem", rules))


def test_validate_table_null_is_violation(spark):
    df = spark.createDataFrame(
        [(1,), (None,), (60,)], "q int"
    )
    rows = {
        r["rule"]: r
        for r in relational.validate_table(
            df, {"q_range": "q BETWEEN 1 AND 50"}
        ).collect()
    }
    r = rows["q_range"]
    assert (r["n_rows"], r["n_violations"]) == (3, 2)  # NULL + 60
    assert r["violation_rate"] == pytest.approx(2 / 3, abs=1e-6)
    with pytest.raises(ValueError):
        relational.validate_table(df, {})


_EVENT_RULES = {
    "value_nonneg": "value >= 0",
    "user_present": "user_id IS NOT NULL",
    "type_known": "event_type IN ('click', 'view', 'purchase', 'signup', 'error')",
}


def test_streaming_rule_violations_matches_batch_oracle(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.streaming.queries import (
        read_events_stream,
        run_to_memory,
        streaming_rule_violations,
    )

    ev = read_events_stream(spark, sf_dir)
    out = streaming_rule_violations(ev, _EVENT_RULES)
    run_to_memory(out, "rule_violations_probe", state_partitions=8)
    got = spark.table("rule_violations_probe")
    cases = " UNION ALL ".join(
        f"SELECT '{nm}' AS rule, date_trunc('hour', ts) AS ws, "
        f"count(*) AS n_rows, "
        f"CAST(coalesce(sum(CASE WHEN ({ex}) THEN 0 ELSE 1 END), 0) "
        "AS BIGINT) AS n_violations, "
        "round(CAST(coalesce(sum(CASE WHEN "
        f"({ex}) THEN 0 ELSE 1 END), 0) AS DOUBLE) / count(*), 6) "
        "AS violation_rate FROM events GROUP BY 2"
        for nm, ex in _EVENT_RULES.items()
    )
    oracle = (
        f"SELECT CAST(ws AS TIMESTAMP_NS) AS window_start, "
        "CAST(ws + INTERVAL 1 HOUR AS TIMESTAMP_NS) AS window_end, "
        f"rule, n_rows, n_violations, violation_rate FROM ({cases})"
    )
    check(got, duck, oracle)


def test_streaming_rule_violations_guards(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.streaming.queries import (
        read_events_stream,
        streaming_rule_violations,
    )

    with pytest.raises(ValueError):
        streaming_rule_violations(read_events_stream(spark, sf_dir), {})


def test_chunk_sentences_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    out = text_ops.chunk_sentences(
        Catalog(spark, sf_dir).documents, window=3, stride=2
    )
    check(out, duck, oracles.chunk_sentences_sql(window=3, stride=2))


def test_chunk_sentences_semantics(spark):
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "One two. Three four! Five six? Seven eight. Nine ten.")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["chunk_id"], r["chunk"], r["n_sentences"])
        for r in text_ops.chunk_sentences(docs, window=2, stride=2).collect()
    )
    # punctuation-consuming split: interior sentences lose ./!/?; the
    # final keeps its own; windows of 2 with stride 2 = disjoint pairs
    assert rows == [
        (0, "One two Three four", 2),
        (1, "Five six Seven eight", 2),
        (2, "Nine ten.", 1),
    ]
    with pytest.raises(ValueError):
        text_ops.chunk_sentences(docs, window=0)


def test_cluster_top_terms_parity(spark, sf_dir, duck):
    out = emb_ops.cluster_top_terms(
        Catalog(spark, sf_dir).documents,
        Catalog(spark, sf_dir).embeddings,
        n_cells=4,
        k=3,
    )
    check(out, duck, oracles.cluster_top_terms_sql(n_cells=4, k=3))


def test_cluster_top_terms_plan_and_guards(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    df = emb_ops.cluster_top_terms(cat.documents, cat.embeddings, n_cells=4, k=3)
    plan = _final_plan(df)
    assert "WindowGroupLimit" in plan  # per-cell top-k pre-pruned
    with pytest.raises(ValueError):
        emb_ops.cluster_top_terms(cat.documents, cat.embeddings, k=0)


def test_winnow_fingerprints_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    out = dedup.winnow_fingerprints(Catalog(spark, sf_dir).documents, k=5, w=4)
    check(out, duck, oracles.winnow_fingerprints_sql(k=5, w=4))


def test_winnow_matches_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    out = dedup.winnow_matches(
        Catalog(spark, sf_dir).documents, min_shared=3, max_fp_df=8
    )
    check(out, duck, oracles.winnow_matches_sql(k=5, w=4, min_shared=3, max_fp_df=8))


def _py_winnow(text: str, k: int, w: int) -> set:
    """Pure-python simple winnowing — the engine-independent reference."""
    import hashlib
    import re

    ch = re.sub(r"\s+", "", text).lower()
    if len(ch) < k:
        return set()
    hs = [
        int(hashlib.md5(ch[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(ch) - k + 1)
    ]
    if len(hs) < w:
        return set()
    sel = set()
    for j in range(len(hs) - w + 1):
        best_fp, best_pos = (1 << 62) - 1, -1
        for t in range(w):
            if hs[j + t] <= best_fp:
                best_fp, best_pos = hs[j + t], j + t
        sel.add((best_pos, best_fp))
    return sel


def test_winnow_matches_pure_python_and_guarantee(spark):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared} gamma"),
            (2, f"completely different words here {shared} trailing"),
            (3, "nothing in common with the others at all kumquat"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["pos"], r["fp"])
        for r in dedup.winnow_fingerprints(docs, k=5, w=4).collect()
    }  # smoke: rows exist
    for did, txt in [(1, f"alpha beta {shared} gamma")]:
        want = _py_winnow(txt, 5, 4)
        have = {
            (r["pos"], r["fp"])
            for r in dedup.winnow_fingerprints(
                spark.createDataFrame([(did, txt)], "doc_id long, text string"),
                k=5,
                w=4,
            ).collect()
        }
        assert have == want
    # the winnowing guarantee: a shared >= k+w-1 char substring yields
    # shared fingerprints -> (1,2) match; doc 3 pairs with nobody
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.winnow_matches(docs, min_shared=2).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    with pytest.raises(ValueError):
        dedup.winnow_fingerprints(docs, k=0)
    with pytest.raises(ValueError):
        dedup.winnow_matches(docs, min_shared=0)
    with pytest.raises(ValueError):
        dedup.winnow_matches(docs, max_fp_df=1)


def test_group_compactness_parity(spark, sf_dir, duck):
    out = emb_ops.group_compactness(Catalog(spark, sf_dir).embeddings, exact=True)
    check(out, duck, oracles.group_compactness_sql(dims=64))


def test_group_compactness_semantics(spark):
    # tight group (identical vectors) vs spread group (orthogonal)
    rows = [
        (1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0]),
        (3, 1, [1.0, 0.0]), (4, 1, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = {r["label"]: r for r in emb_ops.group_compactness(df).collect()}
    assert out[0]["mean_cos"] == pytest.approx(1.0, abs=1e-9)
    assert out[1]["mean_cos"] < 0.95  # cos to the diagonal centroid
    assert out[0]["n"] == 2 and out[1]["n"] == 2


def test_group_compactness_zero_vector_contributes_zero(spark):
    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [1.0, 0.0]),
        (3, 0, [0.0, 0.0]),  # zero member: explicit cos 0, not a NULL skip
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    (r,) = emb_ops.group_compactness(df).collect()
    assert r["n"] == 3
    # two members at cos 1 to the centroid direction, one forced 0
    assert r["mean_cos"] == pytest.approx(2 / 3, abs=1e-6)


def test_mixers_fail_loud_on_null_source_and_null_text(spark):
    bad_src = spark.createDataFrame(
        [(1, "some text", "web"), (2, "more text", None)],
        "doc_id long, text string, source string",
    )
    bad_txt = spark.createDataFrame(
        [(1, "some text", "web"), (2, None, "empty"), (3, None, "empty")],
        "doc_id long, text string, source string",
    )
    for fn in (
        lambda d: sampling.unimax_mix(d, total_budget=10.0),
        lambda d: sampling.temperature_mix(d, total_budget=10.0),
        lambda d: sampling.mix_sources(d, {"web": 1.0}),
    ):
        with pytest.raises(ValueError, match="NULL"):
            fn(bad_src)
        with pytest.raises(ValueError, match="no countable"):
            fn(bad_txt)


def test_hash_split_rejects_nonpositive_percentages(spark):
    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="positive"):
        sampling.hash_split(df, "k", {"train": 105, "val": -5})


def test_value_histogram_parity(spark, sf_dir, duck):
    out = relational.value_histogram(
        Catalog(spark, sf_dir).documents, "n_chars", bucket_width=100
    )
    check(out, duck, oracles.value_histogram_sql("documents", "n_chars", 100))
    out2 = relational.value_histogram(
        Catalog(spark, sf_dir).lineitem, "l_quantity", bucket_width=7.5
    )
    check(out2, duck, oracles.value_histogram_sql("lineitem", "l_quantity", 7.5))


def test_value_histogram_nulls_and_guards(spark):
    df = spark.createDataFrame([(5,), (None,), (105,), (199,)], "v int")
    rows = {r["bucket_start"]: r["n"] for r in
            relational.value_histogram(df, "v", 100).collect()}
    assert rows[0.0] == 1 and rows[100.0] == 2
    assert rows[None] == 1  # nulls are their own row, never dropped
    with pytest.raises(ValueError):
        relational.value_histogram(df, "v", 0)


@settings(**_PROP)
@given(
    texts=st.lists(
        st.text(alphabet="ab cd.!x", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 4]),
    w=st.sampled_from([1, 3]),
)
def test_winnow_fingerprints_matches_pure_python(spark, texts, k, w):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: dict = {}
    for r in dedup.winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    want = {
        i: _py_winnow(t, k, w) for i, t in rows if _py_winnow(t, k, w)
    }
    assert got == want


@settings(**_PROP)
@given(
    texts=st.lists(
        st.text(alphabet="\u03b1\u0392\u6c49\u5b57\u00e9\u00dc \t.\x0b\u00a0x", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    ),
    k=st.sampled_from([2, 4]),
    w=st.sampled_from([1, 3]),
)
def test_winnow_non_ascii_matches_duckdb_oracle(spark, texts, k, w):
    """r12 verdict item 7: the Arrow kernel's CHAR-SLICE fallback path
    (multi-byte chars break the byte-window fast path) gated against
    the REAL DuckDB oracle on a non-ASCII corpus — only ASCII corpora
    had exercised the oracle since the r11 convention fix. The
    alphabet deliberately plants the convention edges: U+000B
    (stripped by BOTH sides now that the oracle says [[:space:]]),
    NBSP (stripped by NEITHER — part of the grams), caseful Greek and
    accented Latin (unicode lower on both sides), and CJK (pure
    multi-byte, no case)."""
    import duckdb

    from pagerank_mapreduce_implementation_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in dedup.winnow_fingerprints(df, k=k, w=w).collect()
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        tuple(r)
        for r in con.sql(oracles.winnow_fingerprints_sql(k=k, w=w)).fetchall()
    }
    assert got == want


def test_winnow_empty_and_tiny_inputs(spark):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.winnow_fingerprints(empty).collect() == []
    assert dedup.winnow_matches(empty).collect() == []
    tiny = spark.createDataFrame([(1, "ab"), (2, None)], "doc_id long, text string")
    assert dedup.winnow_fingerprints(tiny, k=5, w=4).collect() == []


def test_cluster_top_terms_ctfidf_parity(spark, sf_dir, duck):
    out = emb_ops.cluster_top_terms(
        Catalog(spark, sf_dir).documents,
        Catalog(spark, sf_dir).embeddings,
        n_cells=4,
        k=3,
        weighting="ctfidf",
    )
    check(out, duck, oracles.cluster_top_terms_sql(n_cells=4, k=3, weighting="ctfidf"))


def test_cluster_top_terms_ctfidf_damps_shared_words(spark):
    # 'common' appears in every doc; each cell has a distinctive word
    docs = spark.createDataFrame(
        [
            (1, "common common alpha alpha alpha"),
            (2, "common common beta beta beta"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    top = {
        r["cell_id"]: r["word"]
        for r in emb_ops.cluster_top_terms(
            docs, emb, n_cells=2, k=1, weighting="ctfidf"
        ).collect()
    }
    # the shared word is damped to score 0 (log10(1 + 2/2) over both
    # cells equally); the per-cell word wins despite equal counts
    assert set(top.values()) == {"alpha", "beta"}
    with pytest.raises(ValueError, match="weighting"):
        emb_ops.cluster_top_terms(docs, emb, weighting="nope")


def test_streaming_value_histogram_matches_batch(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.streaming.queries import (
        read_events_stream,
        run_to_memory,
        streaming_value_histogram,
    )

    out = streaming_value_histogram(
        read_events_stream(spark, sf_dir), 25.0
    )
    run_to_memory(out, "value_hist_probe", state_partitions=8)
    got = spark.table("value_hist_probe")
    check(got, duck, oracles.value_histogram_sql("events", "value", 25.0))
    with pytest.raises(ValueError):
        streaming_value_histogram(read_events_stream(spark, sf_dir), 0)


def test_cohort2_plan_shapes(spark, sf_dir):
    """The scale claims as assertions, one action each: no cartesian
    products anywhere, no global range-sorts in the orderers, scan
    counts where the docstrings promise one pass."""
    from pagerank_mapreduce_implementation_spark.operators import dedup, textstats

    docs = Catalog(spark, sf_dir).documents
    li = Catalog(spark, sf_dir).lineitem

    pmi = _final_plan(textstats.bigram_pmi(docs, min_count=2))
    assert "CartesianProduct" not in pmi  # vocab-keyed equi-joins only

    cur = _final_plan(
        sampling.curriculum_order(docs, "n_chars", [200.0, 500.0])
    )
    assert "rangepartitioning" not in cur
    assert "BroadcastHashJoin" in cur  # offsets broadcast back

    val = _final_plan(
        relational.validate_table(li, {"q": "l_quantity BETWEEN 1 AND 50"})
    )
    assert val.count("FileScan") == 1  # all rules share one scan

    wm = _final_plan(dedup.winnow_matches(docs, min_shared=3, max_fp_df=8))
    assert "CartesianProduct" not in wm  # fp-keyed self-join

    gc = _final_plan(emb_ops.group_compactness(docs.sparkSession.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 1, [0.0, 1.0])],
        "vec_id long, label int, embedding array<double>",
    )))
    assert "CartesianProduct" not in gc


@settings(**_PROP)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-(10**6), max_value=10**6)),
        min_size=1,
        max_size=50,
    ),
    width=st.sampled_from([1, 7, 100]),
)
def test_value_histogram_matches_pure_python(spark, vals, width):
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["bucket_start"]: r["n"]
        for r in relational.value_histogram(df, "v", width).collect()
    }
    want: dict = {}
    for v in vals:
        b = None if v is None else float((v // width) * width)
        want[b] = want.get(b, 0) + 1
    assert got == want


@settings(**_PROP)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
            st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_profile_table_matches_pure_python(spark, rows):
    df = spark.createDataFrame(rows, "k int, s string")
    got = {r["col_name"]: r for r in relational.profile_table(df).collect()}
    for name, idx in [("k", 0), ("s", 1)]:
        col = [r[idx] for r in rows]
        nn = [v for v in col if v is not None]
        p = got[name]
        assert p["n_rows"] == len(col)
        assert p["n_nulls"] == len(col) - len(nn)
        assert p["n_distinct"] == len(set(nn))
        if nn:
            assert p["min_value"] == str(min(nn))
            assert p["max_value"] == str(max(nn))
        else:
            assert p["min_value"] is None and p["max_value"] is None


# ------------------------------------------------- round-12 composition gate


def test_semdedup_truncated_projection_adds_no_shuffle(spark, sf_dir):
    """The registered wide-embedding SemDeDup path (r11 verdict item
    4): truncating to 16 dims before semdedup must not add a single
    exchange — the projection is per-row math that fuses into the
    scan, so the composed plan's shuffle count equals the plain
    semdedup plan's."""
    import __spark_entry__ as entry
    from pagerank_mapreduce_implementation_spark.operators import dedup

    def _full_plan(df) -> str:
        # the PRE-collect plan: AQE's final plan shows only the last
        # query stage, which hides the upstream pipeline this test is
        # about — the initial plan is the whole tree
        return df._jdf.queryExecution().executedPlan().toString()

    cat = Catalog(spark, sf_dir)
    docs = cat.documents.select("doc_id", "lang", "source", "n_chars")
    plain = _full_plan(
        dedup.semdedup(
            docs, cat.embeddings, n_cells=8, threshold=0.6,
            n_iters=2, keep_rule="centroid_far",
        )
    )
    composed = _full_plan(entry.queries()["semdedup_truncated"](spark, sf_dir))
    assert composed.count("Exchange") == plain.count("Exchange")
    # and the truncation itself stays shuffle-free standalone
    trunc = _final_plan(
        emb_ops.truncate_embeddings(cat.embeddings, dims=16)
    )
    assert "Exchange" not in trunc
