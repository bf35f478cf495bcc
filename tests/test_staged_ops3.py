"""Round-12 STAGED operators (cohort 3) — built this round, queued for
a later driver window (the round-8 capacity policy; the r12 window is
full with tranche 1 + the due r9 cohort). Until registered this file is
their correctness gate: DuckDB-oracle parity at sf0.001 through the
same normalize/compare the registry harness uses, plus semantics on
hand-checkable fixtures."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

# slow tier (r17): excluded from the driver's default fast run -- see pytest.ini
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark import oracles
from pagerank_mapreduce_implementation_spark.operators import sampling, similarity
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


_QUERY_IDS = [0, 7, 23]


# --- oracle parity (the registry harness comparison) -----------------------


def test_ann_recall_parity(spark, sf_dir, duck):
    got = similarity.ann_recall_report(
        Catalog(spark, sf_dir).embeddings, _QUERY_IDS, k=10, n_cells=16, n_probe=4
    )
    check(got, duck, oracles.ann_recall_sql(_QUERY_IDS, k=10, n_cells=16, n_probe=4))


def test_token_budget_mix_parity(spark, sf_dir, duck):
    # testdata sources are src0..src19, ~1.4k ws-tokens each: these
    # budgets exercise partial fill, near-total fill, and a tiny quota
    budgets = {"src0": 600, "src1": 1200, "src2": 40}
    got = sampling.token_budget_mix(Catalog(spark, sf_dir).documents, budgets)
    out = got.toPandas()
    assert len(out) > 0, "vacuous gate: no source matched a budget"
    check(got, duck, oracles.token_budget_mix_sql(budgets))


# --- semantics on hand-checkable fixtures ----------------------------------


def test_ann_recall_full_probe_is_exhaustive(spark, sf_dir):
    """n_probe == n_cells scans every cell — the index IS brute force,
    so recall must be exactly 1.0 for every query."""
    emb = Catalog(spark, sf_dir).embeddings
    rows = similarity.ann_recall_report(
        emb, _QUERY_IDS, k=5, n_cells=8, n_probe=8
    ).collect()
    assert len(rows) == len(_QUERY_IDS)
    assert all(r["recall"] == 1.0 and r["hits"] == r["n_truth"] for r in rows)


def test_ann_recall_probe_limited_and_bounds(spark):
    """A query whose true neighbors live in an unprobed cell scores
    recall < 1; n_truth caps at corpus-1 when the corpus is under k."""
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),     # seed cell 1 (query)
            (1, [0.0, 1.0]),     # seed cell 2
            (2, [0.99, 0.14]),   # near the query -> lands in cell 1
            (3, [0.14, 0.99]),   # cell 2
            (4, [0.97, 0.24]),   # cell 1
        ],
        "vec_id long, embedding array<double>",
    )
    full = {
        r["query_id"]: r
        for r in similarity.ann_recall_report(
            emb, [0], k=10, n_cells=2, n_probe=2
        ).collect()
    }
    assert full[0]["n_truth"] == 4  # corpus-1 < k
    assert full[0]["recall"] == 1.0
    limited = {
        r["query_id"]: r
        for r in similarity.ann_recall_report(
            emb, [0], k=10, n_cells=2, n_probe=1
        ).collect()
    }
    # probing only the query's own cell misses the cell-2 vectors
    assert limited[0]["hits"] == 2 and limited[0]["n_truth"] == 4
    assert limited[0]["recall"] == 0.5
    with pytest.raises(ValueError):
        similarity.ann_recall_report(emb, [], k=5)
    with pytest.raises(ValueError):
        similarity.ann_recall_report(emb, [0], k=0)


def test_token_budget_mix_greedy_fill(spark):
    """Per source, docs enter best-score-first while the PRIOR total is
    under budget — the straddling doc is kept; unbudgeted sources and
    exhausted budgets drop; bad budgets raise."""
    docs = spark.createDataFrame(
        [
            # source a: scores 9 > 8 > 7, 3 tokens each, budget 5:
            # doc 1 (cb=0) kept, doc 2 (cb=3 < 5) kept straddling,
            # doc 3 (cb=6 >= 5) dropped
            (1, "a", 9, "t t t"),
            (2, "a", 8, "t t t"),
            (3, "a", 7, "t t t"),
            # source b: budget 1 -> only the best doc survives
            (4, "b", 5, "x y"),
            (5, "b", 4, "x y"),
            # source c: no budget entry -> dropped entirely
            (6, "c", 99, "z z z z"),
        ],
        "doc_id long, source string, n_chars long, text string",
    )
    out = {
        r["doc_id"]: r["n_tokens"]
        for r in sampling.token_budget_mix(
            docs, {"a": 5, "b": 1}
        ).collect()
    }
    assert out == {1: 3, 2: 3, 4: 2}
    with pytest.raises(ValueError):
        sampling.token_budget_mix(docs, {})
    with pytest.raises(ValueError):
        sampling.token_budget_mix(docs, {"a": 0})


def test_token_budget_mix_tiebreak_is_key_asc(spark):
    """Equal scores: the lower doc_id wins the last budget slot."""
    docs = spark.createDataFrame(
        [(10, "s", 1, "w w"), (11, "s", 1, "w w")],
        "doc_id long, source string, n_chars long, text string",
    )
    rows = sampling.token_budget_mix(docs, {"s": 2}).collect()
    assert [r["doc_id"] for r in rows] == [10]


def test_dedup_report_parity(spark, sf_dir, duck):
    """dedup_report == the cluster_survivors oracle wrapped in a
    per-source GROUP BY over integer token counts."""
    import __spark_entry__ as entry
    from pagerank_mapreduce_implementation_spark.operators import dedup

    got = dedup.dedup_report(Catalog(spark, sf_dir).documents)
    cs = entry.oracle_sql()["cluster_survivors"]
    oracle = (
        f"WITH cs AS ({cs}), "
        "t AS (SELECT doc_id, source, CAST(len(list_filter("
        r"regexp_split_to_array(text, '\s+'), w -> w <> '')) AS BIGINT) AS nt "
        "FROM documents), "
        "j AS (SELECT t.source, t.nt, cs.keep FROM t "
        "JOIN cs ON t.doc_id = cs.doc_id) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
        "CAST(sum(nt) AS BIGINT) AS tokens_total, "
        "CAST(sum(CASE WHEN keep THEN nt ELSE 0 END) AS BIGINT) AS tokens_kept, "
        "round(1.0 - CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ count(*), 6) AS drop_rate "
        "FROM j GROUP BY source"
    )
    assert got.count() > 0
    check(got, duck, oracle)


def test_dedup_report_mass_conservation(spark):
    """keep + drop masses reconcile exactly on a planted cluster: two
    near-identical docs collapse to the better one, singletons keep."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    base = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, "a", base, len(base)),
            (2, "a", base + " tail", len(base) + 5),
            (3, "b", "an unrelated singleton document thing", 37),
        ],
        "doc_id long, source string, text string, n_chars long",
    )
    rep = {
        r["source"]: r
        for r in dedup.dedup_report(docs).collect()
    }
    a, b = rep["a"], rep["b"]
    assert a["n_docs"] == 2 and a["n_kept"] == 1 and a["drop_rate"] == 0.5
    assert a["tokens_total"] == 60 + 61
    assert a["tokens_kept"] in (60, 61)  # quality argmax picks one
    assert b["n_docs"] == 1 and b["n_kept"] == 1 and b["drop_rate"] == 0.0


def test_shard_audit_green_and_detects_drift(spark, tmp_path, sf_dir):
    """shard_audit over a fresh build is all-ok; a corrupted manifest
    row and a manifest row for a missing shard both flag ok=false."""
    from pagerank_mapreduce_implementation_spark.programs import (
        build_training_shards,
        shard_audit,
    )

    out = str(tmp_path / "shards")
    build_training_shards(
        spark,
        f"{sf_dir}/documents.parquet",
        out,
        budget=256,
        bins_per_shard=4,
        shuffle_seed="torder",
    )
    audit = shard_audit(spark, out).collect()
    assert len(audit) > 1 and all(r["ok"] for r in audit)
    # corrupt: +1 token on shard 0, plus a phantom shard 9999
    man = spark.read.parquet(f"{out}/manifest.parquet")
    tweaked = man.withColumn(
        "n_tokens",
        F.when(F.col("shard") == 0, F.col("n_tokens") + 1).otherwise(
            F.col("n_tokens")
        ),
    ).unionByName(
        spark.createDataFrame(
            [(9999, 1, 10, 1)],
            "shard int, n_bins long, n_tokens long, doc_segments long",
        )
    )
    tweaked.write.mode("overwrite").parquet(str(tmp_path / "man2.parquet"))
    spark.read.parquet(str(tmp_path / "man2.parquet")).write.mode(
        "overwrite"
    ).parquet(f"{out}/manifest.parquet")
    bad = {r["shard"]: r for r in shard_audit(spark, out).collect() if not r["ok"]}
    assert set(bad) == {0, 9999}
    assert bad[9999]["n_bins_actual"] is None  # phantom: no shard data


def test_fuzzy_contamination_parity(spark, sf_dir, duck):
    """fuzzy_contamination over a WHERE-split of documents (train =
    doc_id % 7 != 0, bench = the rest) == the cross-corpus minhash SQL.
    Low threshold so band-colliding natural near-dups survive verify —
    a result-free gate would be vacuous, so assert non-empty."""
    from pagerank_mapreduce_implementation_spark.operators import contamination

    docs = Catalog(spark, sf_dir).documents
    train = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    got = contamination.fuzzy_contamination(
        train, bench, threshold=0.05, ngram=3
    )
    assert got.count() > 0, "vacuous gate: no cross-corpus candidates"
    check(
        got,
        duck,
        oracles.fuzzy_contamination_sql(
            "doc_id % 7 <> 0", "doc_id % 7 = 0", threshold=0.05, ngram=3
        ),
    )


def test_fuzzy_contamination_catches_paraphrase(spark):
    """A training doc that rewords ONE token of a benchmark doc breaks
    every 8-gram (exact contamination_check scores zero) but keeps a
    high shingle Jaccard — the fuzzy pass flags it; an unrelated doc
    stays clean."""
    from pagerank_mapreduce_implementation_spark.operators import contamination

    base = " ".join(f"w{i}" for i in range(40))
    reworded = " ".join("CHANGED" if i == 20 else f"w{i}" for i in range(40))
    train = spark.createDataFrame(
        [(1, reworded), (2, "totally different text about other things entirely here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "doc_id long, text string")
    # a mid-doc edit still leaves intact 8-grams on both sides, so the
    # exact check fires on the long doc; shrink the doc so every 8-gram
    # spans the edit and the exact rule goes blind:
    short_base = " ".join(f"w{i}" for i in range(9))
    short_re = " ".join("CHANGED" if i == 4 else f"w{i}" for i in range(9))
    t2 = spark.createDataFrame([(1, short_re)], "doc_id long, text string")
    b2 = spark.createDataFrame([(100, short_base)], "doc_id long, text string")
    exact2 = contamination.contamination_check(t2, b2, ngram=8).collect()[0]
    assert exact2["n_contaminated"] == 0  # every 8-gram spans the edit
    fuzzy2 = contamination.fuzzy_contamination(
        t2, b2, threshold=0.2, ngram=2, bands=8
    ).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in fuzzy2] == [(1, 100)]
    # and the long-doc case: fuzzy flags the paraphrase, not the
    # unrelated doc
    fuzzy = contamination.fuzzy_contamination(
        train, bench, threshold=0.5, ngram=3, bands=8
    ).collect()
    assert [(r["doc_id"], r["bench_id"]) for r in fuzzy] == [(1, 100)]
    assert fuzzy[0]["jaccard"] > 0.7


# --- property tests: pure-python references --------------------------------

from collections import defaultdict

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=list(HealthCheck),
)


@settings(**PROP_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),       # source
            st.integers(min_value=0, max_value=99),  # score
            st.integers(min_value=0, max_value=5),   # token count
        ),
        max_size=16,
    ),
    budgets=st.dictionaries(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=1, max_value=8),
        min_size=1,
    ),
)
def test_token_budget_mix_matches_python(spark, rows, budgets):
    """token_budget_mix == a direct Python greedy fill on arbitrary
    (source, score, n_tokens) tables — duplicates, zero-token docs,
    unbudgeted sources included."""
    data = [
        (i, src, score, " ".join("w" for _ in range(nt)))
        for i, (src, score, nt) in enumerate(rows)
    ]
    if not data:
        data = [(0, "a", 1, "w")]
    df = spark.createDataFrame(
        data, "doc_id long, source string, n_chars long, text string"
    )
    got = {
        r["doc_id"]: (r["source"], r["n_tokens"])
        for r in sampling.token_budget_mix(df, budgets).collect()
    }
    by_src = defaultdict(list)
    for did, src, score, text in data:
        by_src[src].append((did, score, len(text.split())))
    want = {}
    for src, docs_ in by_src.items():
        if src not in budgets:
            continue
        run = 0
        for did, score, nt in sorted(docs_, key=lambda t: (-t[1], t[0])):
            if run < budgets[src]:
                want[did] = (src, nt)
            run += nt
    assert got == want


@settings(**PROP_SETTINGS)
@given(
    n_vecs=st.integers(min_value=3, max_value=12),
    k=st.integers(min_value=1, max_value=4),
    n_probe=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_ann_recall_matches_python(spark, n_vecs, k, n_probe, seed):
    """ann_recall_report == a direct Python replay of ivf-assign /
    probe / top-k / intersect on random small vector tables."""
    import random

    rng = random.Random(seed)
    vecs = [
        [round(rng.uniform(-1, 1), 3) or 0.5 for _ in range(4)]
        for _ in range(n_vecs)
    ]
    n_cells = 2
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    qid = 0
    got = {
        r["query_id"]: (r["n_truth"], r["hits"])
        for r in similarity.ann_recall_report(
            df, [qid], k=k, n_cells=n_cells, n_probe=n_probe
        ).collect()
    }

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def norm(a):
        return dot(a, a) ** 0.5

    def cos(a, b):
        return dot(a, b) / (norm(a) * norm(b))

    cents = vecs[:n_cells]  # first n_cells by id, the ivf_assign seed
    def cell_of(v):
        scored = [
            (cos(v, c), -(ci + 1)) for ci, c in enumerate(cents)
        ]
        best = max(scored)
        return -best[1]

    assign = {i: cell_of(v) for i, v in enumerate(vecs)}
    q = vecs[qid]
    probe_cells = [
        c
        for _, c in sorted(
            ((cos(q, cents[c - 1]), -c) for c in range(1, n_cells + 1)),
            reverse=True,
        )[:n_probe]
    ]
    probe_cells = [-c for c in probe_cells]
    ann = sorted(
        (
            (round(cos(q, vecs[i]), 6), -i)
            for i in range(n_vecs)
            if i != qid and assign[i] in probe_cells
        ),
        reverse=True,
    )[:k]
    ann_ids = {-i for _, i in ann}
    truth = sorted(
        ((round(cos(q, vecs[i]), 6), -i) for i in range(n_vecs) if i != qid),
        reverse=True,
    )[:k]
    truth_ids = {-i for _, i in truth}
    assert got == {qid: (len(truth_ids), len(truth_ids & ann_ids))}


# ------------------------------------------------------ text normalization


def test_normalize_text_parity(spark, sf_dir, duck):
    """normalize_text over the (ASCII) corpus == the DuckDB mirror —
    exercises the collapse/strip/trim pipeline and the changed flag."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    got = textstats.normalize_text(Catalog(spark, sf_dir).documents)
    check(got, duck, oracles.normalize_text_sql())


def test_normalize_text_unicode_parity(spark, duck):
    """Planted non-ASCII fixtures through BOTH engines: decomposed
    accents recompose (NFC), zero-width chars and controls strip,
    CRLF and space runs collapse, NBSP survives (ASCII \\s on both
    sides) — byte-identical cross-engine."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    rows = [
        (1, "café time"),              # decomposed -> café
        (2, "zero​width﻿ here"),   # ZWSP + BOM strip
        (3, "ctrl\x07bell and\x1f unit"),    # C0 controls strip
        (4, "a  b\t\tc\r\nd"),               # runs + CRLF collapse
        (5, "nbsp stays"),              # NBSP kept (ASCII \s)
        (6, "  trimmed  \n  lines  "),       # trim + line-edge spaces
        (7, "already clean"),                # changed = 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vals = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''")) for i, t in rows
    )
    oracle = (
        f"WITH documents(doc_id, text) AS (VALUES {vals}), "
        f"res AS ({oracles.normalize_text_sql()}) SELECT * FROM res"
    )
    got = textstats.normalize_text(docs)
    check(got, duck, oracle)
    out = {r["doc_id"]: r for r in got.collect()}
    assert out[1]["clean_text"] == "café time"
    assert out[2]["clean_text"] == "zerowidth here"
    assert out[3]["clean_text"] == "ctrlbell and unit"
    assert out[4]["clean_text"] == "a b c\nd"
    assert out[5]["clean_text"] == "nbsp stays"
    assert out[6]["clean_text"] == "trimmed\nlines"
    # NBSP-only doc 5 is DELIBERATELY unchanged (ASCII \\s keeps it)
    assert {i: out[i]["changed"] for i in range(1, 8)} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 0, 6: 1, 7: 0
    }
    with pytest.raises(ValueError):
        textstats.normalize_text(docs, form="NFX")


def test_normalize_text_feeds_exact_dedup(spark):
    """The motivating composition: two visually-identical docs hash
    apart raw, together after normalize_text."""
    from pagerank_mapreduce_implementation_spark.operators import dedup, textstats

    docs = spark.createDataFrame(
        [(1, "café  menu"), (2, "café menu")],
        "doc_id long, text string",
    )
    # byte-distinct raw: the audit table flags no dup
    assert [r["is_dup"] for r in dedup.exact_dedup(docs).collect()] == [0, 0]
    clean = textstats.normalize_text(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    flags = {
        r["doc_id"]: r["is_dup"] for r in dedup.exact_dedup(clean).collect()
    }
    assert flags == {1: 0, 2: 1}  # normalized: one keeper, one dup


def test_clean_corpus_normalize_stage(spark, tmp_path):
    """clean_corpus(normalize=True): the canonicalized text feeds the
    exact-dedup stage, so a composed/decomposed pair collapses to one
    survivor; without the stage both survive. keep_cols passthrough
    preserves the full row (source survives)."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    docs = spark.createDataFrame(
        [
            (1, "cafe\u0301  menu with plenty of words here", "web", 37),
            (2, "café menu with plenty of words here", "web", 36),
            (3, "a completely different document body", "wiki", 36),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    src = str(tmp_path / "in.parquet")
    docs.write.parquet(src)
    # the near-dup stage dedups the twins in BOTH runs (as it should);
    # what the normalize stage changes is WHICH BYTES survive — raw
    # keeps doc 1 verbatim (decomposed accent, doubled space), the
    # normalized run hands every later stage canonical text
    raw = {r["doc_id"]: r for r in
           clean_corpus(spark, src, str(tmp_path / "out_raw")).collect()}
    assert sorted(raw) == [1, 3]
    assert raw[1]["text"] == "cafe\u0301  menu with plenty of words here"
    norm = clean_corpus(
        spark, src, str(tmp_path / "out_norm"), normalize=True
    )
    rows = {r["doc_id"]: r for r in norm.collect()}
    assert sorted(rows) == [1, 3]
    assert rows[1]["source"] == "web"  # passthrough intact
    # the surviving text is the NORMALIZED form (composed, one space)
    assert rows[1]["text"] == "caf\u00e9 menu with plenty of words here"


# --- round-13 staged: source-layout compositions (queued for the r14
# --- window's free slots) ---------------------------------------------------

BUCKETED_REVENUE_ORACLE = (
    "SELECT o_orderpriority, count(*) AS n_items, "
    "round(CAST(sum(CAST(l_extendedprice*(1.0-l_discount) "
    "AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)

CSV_ROUNDTRIP_ORACLE = (
    # BIGINT casts: DuckDB HUGEINT sums land as float64 (the r13
    # jsonl_roundtrip lesson)
    "SELECT source, count(*) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS chars, "
    "CAST(sum(length(text)) AS BIGINT) AS text_chars, "
    "min(doc_id) AS min_id, max(doc_id) AS max_id "
    "FROM documents GROUP BY source"
)


def test_bucketed_revenue_parity(spark, sf_dir, duck):
    """programs.bucketed_revenue == the plain join/rollup SQL — the
    bucket-materialized round-trip changes the PLAN, never the data."""
    from pagerank_mapreduce_implementation_spark.programs import bucketed_revenue

    got = bucketed_revenue(
        spark,
        f"{sf_dir}/orders.parquet",
        f"{sf_dir}/lineitem.parquet",
        table_prefix="bkt_stage_test",
    )
    try:
        check(got, duck, BUCKETED_REVENUE_ORACLE)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_stage_test_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_stage_test_lineitem")


def test_bucketed_revenue_join_is_shuffle_free(spark, sf_dir):
    """The 100 TB claim on the executed plan: after bucket
    materialization the fact-to-fact JOIN itself plans with zero
    exchanges — the only hashpartitioning in the whole rollup is the
    5-row priority aggregation, so neither fact table is ever
    shuffled. (Broadcast is disabled so bucketing, not table size, is
    what kills the exchange.)"""
    from pagerank_mapreduce_implementation_spark.programs import bucketed_revenue

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed_revenue(
            spark,
            f"{sf_dir}/orders.parquet",
            f"{sf_dir}/lineitem.parquet",
            table_prefix="bkt_plan_test",
        )
        joined = spark.table("bkt_plan_test_lineitem").join(
            spark.table("bkt_plan_test_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        joined.count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS bkt_plan_test_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_plan_test_lineitem")


def test_csv_roundtrip_parity(spark, sf_dir, duck, tmp_path):
    """documents -> CSV shards (quoted) -> explicit-schema read ->
    per-source rollup vs DuckDB over the ORIGINAL parquet: content
    survives the other interchange format (the jsonl_roundtrip twin —
    commas and quotes in text exercise the quoting path)."""
    from pagerank_mapreduce_implementation_spark.sources.catalog import (
        read_csv,
        write_csv,
    )

    docs = Catalog(spark, sf_dir).documents
    path = str(tmp_path / "docs_csv")
    write_csv(docs, path)
    back = read_csv(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars"),
        F.sum(F.length("text")).alias("text_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )
    check(out, duck, CSV_ROUNDTRIP_ORACLE)


def _final_plan(df) -> str:
    df.collect()  # AQE: read the final plan, not the initial one
    return (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("+- == Initial Plan ==")[0]
    )


def test_cohort3_plan_shapes(spark, sf_dir):
    """The round-13 registrations' scale claims as assertions, one
    action each (the cohort-2 pattern): zero-shuffle where the
    docstring promises per-row pipelines, top-k without global sorts,
    single scans, and no cartesian anywhere."""
    from pagerank_mapreduce_implementation_spark.operators import (
        contamination,
        relational as rel,
        text as text_ops,
        textstats,
    )

    docs = Catalog(spark, sf_dir).documents
    li = Catalog(spark, sf_dir).lineitem

    nt = _final_plan(textstats.normalize_text(docs))
    assert "Exchange" not in nt  # NFC/strip/collapse: per-row, zero shuffle

    cs = _final_plan(text_ops.chunk_sentences(docs, window=3, stride=2))
    assert "Exchange" not in cs  # split+window explode: per-row

    ks = _final_plan(rel.key_skew_report(li, ["l_returnflag"], top_n=5))
    assert "TakeOrderedAndProject" in ks  # top-n, never a global sort
    assert ks.count("FileScan") == 1

    vh = _final_plan(rel.value_histogram(docs, "n_chars", 100))
    assert vh.count("FileScan") == 1
    assert "rangepartitioning" not in vh

    tb = _final_plan(sampling.token_budget_mix(docs, {"src0": 500}))
    assert "rangepartitioning" not in tb  # per-source windows, no global sort
    assert "CartesianProduct" not in tb

    fz = _final_plan(
        contamination.fuzzy_contamination(
            docs.filter(F.col("doc_id") % 7 != 0),
            docs.filter(F.col("doc_id") % 7 == 0),
            threshold=0.05,
            ngram=3,
        )
    )
    assert "CartesianProduct" not in fz  # band-bucket equi-joins only


def test_tfidf_files_roundtrip_parity(spark, sf_dir, duck, tmp_path):
    """The jar's OTHER file pipeline gated end to end (the
    pagerank_files twin): a deterministic doc subset written one doc
    per FILE (the jar keys docs by input file name), programs.
    tfidf_search_rank runs TermFrequency -> TFIDF -> Search -> Rank
    with the jar-exact boundary tokenizer and writes ``doc \\t score``
    text, and the OUTPUT FILE is read back through the O2 tab-split
    source — the oracle recomputes the whole scoring over the same
    subset, so formatting/round-trip drift breaks the hash. The
    driver-side writes are the bounded doc subset (one small file per
    doc is the reference's own contract; Spark cannot name output
    files per row)."""
    from pagerank_mapreduce_implementation_spark.programs import tfidf_search_rank
    from pagerank_mapreduce_implementation_spark.sources.catalog import read_kv_text

    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") % 100 == 0)
    rows = docs.select("doc_id", "text").collect()  # bounded: |docs|/100
    assert rows, "vacuous gate: empty doc subset"
    ind = tmp_path / "docs_in"
    ind.mkdir()
    for r in rows:
        (ind / f"doc{r['doc_id']}").write_text(r["text"])
    out = str(tmp_path / "scores_out")
    tfidf_search_rank(
        spark, str(ind), out, terms=["spark", "window", "table"]
    )
    back = read_kv_text(spark, out).select(
        F.col("key").alias("doc_id"),
        F.round(F.col("value").cast("double"), 6).alias("score"),
    )
    check(back, duck, oracles.tfidf_files_sql(["spark", "window", "table"]))


# --- round-13 staged: span-level decontamination ---------------------------


def test_contamination_spans_parity(spark, sf_dir, duck):
    """contamination_spans over the contamination_audit split (bench =
    doc_id % 20 == 0) == the positional-shingle islands SQL."""
    from pagerank_mapreduce_implementation_spark.operators import contamination

    docs = Catalog(spark, sf_dir).documents
    got = contamination.contamination_spans(
        docs.filter(F.col("doc_id") % 20 != 0),
        docs.filter(F.col("doc_id") % 20 == 0),
        ngram=8,
    )
    assert got.count() > 0, "vacuous gate: no cross-split 8-gram leaks"
    check(
        got,
        duck,
        oracles.contamination_spans_sql(
            "doc_id % 20 <> 0", "doc_id % 20 = 0", ngram=8
        ),
    )


def test_contamination_spans_merges_adjacent_grams(spark):
    """A verbatim leaked passage of L tokens reports as ONE span with
    n_grams = L - n + 1; two leaks separated by clean text report as
    two spans; a doc too short to shingle never appears."""
    from pagerank_mapreduce_implementation_spark.operators import contamination

    leak = "a b c d e"  # L=5 tokens, n=3 -> one span, 3 grams
    train = spark.createDataFrame(
        [
            (1, f"x0 x1 {leak} y0 y1 y2 y3 {leak} z0"),
            (2, "clean text with nothing shared at all here"),
            (3, "a b"),  # too short to shingle
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    rows = sorted(
        (r["doc_id"], r["start_tok"], r["end_tok"], r["n_grams"])
        for r in contamination.contamination_spans(train, bench, ngram=3).collect()
    )
    # doc 1 tokens: x0 x1 a b c d e y0 y1 y2 y3 a b c d e z0
    #               0  1  2 3 4 5 6 7  8  9  10 11 ...   16
    assert rows == [(1, 2, 6, 3), (1, 11, 15, 3)]
    with pytest.raises(ValueError):
        contamination.contamination_spans(train, bench, ngram=0)


# --- round-13 staged: checksum-validated card detection ---------------------


def _card_corpus(spark, sf_dir):
    """The registry's manufactured card corpus (entry._luhn_card_docs,
    the Spark mirror of oracles.luhn_cards_docs_sql) — shared with the
    registered pii_luhn query so test and driver gate the same frame."""
    import __spark_entry__ as entrymod

    return entrymod._luhn_card_docs(spark, sf_dir)


def test_luhn_scan_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import redaction

    got = redaction.luhn_scan(_card_corpus(spark, sf_dir))
    rows = got.collect()
    assert any(r["luhn_valid"] for r in rows), "vacuous: no Luhn-valid card"
    assert any(not r["luhn_valid"] for r in rows), "vacuous: all cards valid"
    check(
        got, duck,
        oracles.luhn_scan_sql(oracles.luhn_cards_docs_sql()),
    )


def test_luhn_scan_semantics(spark):
    """Known checksums and boundary shapes: the classic 4111... test
    number validates, off-by-one fails, separators normalize, and runs
    of 12 or 20 digits never become candidates (the \\b discipline)."""
    import re as _re

    from pagerank_mapreduce_implementation_spark.operators import redaction

    docs = spark.createDataFrame(
        [
            (1, "pay 4111111111111111 now"),          # 16, valid
            (2, "pay 4111111111111112 now"),          # 16, invalid
            (3, "pay 4111-1111-1111-1111 now"),       # dashed, valid
            (4, "id 123456789012 end"),               # 12 digits: no match
            (5, "big 12345678901234567890 end"),      # 20 digits: no match
            (6, "two 4111111111111111 and 5500005555555559 here"),
        ],
        "doc_id long, text string",
    )
    rows = redaction.luhn_scan(docs).collect()
    got = {(r["doc_id"], r["card_digits"]): r["luhn_valid"] for r in rows}
    assert got[(1, "4111111111111111")] is True
    assert got[(2, "4111111111111112")] is False
    assert got[(3, "4111111111111111")] is True
    assert not any(d in (4, 5) for d, _ in got)
    assert len([d for d, _ in got if d == 6]) == 2

    def py_luhn(ds: str) -> bool:
        s = 0
        for i, ch in enumerate(reversed(ds), start=1):
            d = ord(ch) - 48
            if i % 2 == 0:
                d = d * 2
                if d > 9:
                    d -= 9
            s += d
        return s % 10 == 0

    for (doc, ds), valid in got.items():
        assert valid == py_luhn(ds), (doc, ds)
    # the engine regex and Python's agree on candidate extraction
    for doc_id, text in [(r["doc_id"], r["text"]) for r in docs.collect()]:
        want = [
            _re.sub(r"[^0-9]", "", m)
            for m in _re.findall(r"\b\d(?:[ -]?\d){12,18}\b", text)
        ]
        have = [ds for d, ds in got if d == doc_id]
        assert sorted(have) == sorted(want), doc_id


# --- round-13 staged: packed-vs-padded efficiency audit ----------------------


def test_packing_report_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    docs = Catalog(spark, sf_dir).documents
    got = text_ops.packing_report(docs, budget=64)
    row = got.collect()[0]
    assert row["n_split_docs"] > 0, "vacuous: budget too big to split any doc"
    assert row["pad_tokens"] > 0, "vacuous: no padding waste to compare"
    check(got, duck, oracles.packing_report_sql(64))


def test_packing_report_arithmetic(spark):
    """Hand-checkable layout: budget 10 over docs of 4/8/10/0/25 tokens
    in id order -> stream of 47 tokens, 5 bins, tail 3; doc2 (8 toks at
    start 4) and doc5 (25 toks at start 22) straddle; padded mode needs
    ceil sums."""
    from pagerank_mapreduce_implementation_spark.operators import text as text_ops

    mk = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [(1, mk(4)), (2, mk(8)), (3, mk(10)), (4, ""), (5, mk(25))],
        "doc_id long, text string",
    )
    r = text_ops.packing_report(docs, budget=10).collect()[0]
    assert r["budget"] == 10 and r["n_docs"] == 5
    assert r["total_tokens"] == 47 and r["n_bins"] == 5
    # doc2: start 4 -> bins 0..1 (2 segs); doc3: start 12 -> bins 1..2
    # (2 segs); doc5: start 22 -> bins 2..4 (3 segs) => 3 split docs,
    # 1+1+2 = 4 crossings
    assert r["n_split_docs"] == 3 and r["cross_segments"] == 4
    assert r["tail_waste"] == 3 and r["pack_waste_rate"] == round(3 / 50, 6)
    # padded: ceil(4/10)+ceil(8/10)+ceil(10/10)+0+ceil(25/10) = 1+1+1+0+3 = 6
    assert r["padded_seqs"] == 6 and r["pad_tokens"] == 60 - 47
    assert r["pad_waste_rate"] == round(13 / 60, 6)
    assert r["split_frac"] == round(3 / 5, 6)


# --- round-13 staged: cross-source score calibration -------------------------


def test_calibrate_scores_parity(spark, sf_dir, duck):
    docs = Catalog(spark, sf_dir).documents
    got = sampling.calibrate_scores(docs, score_col="n_chars")
    # real tie coverage: integer lengths repeat within a source
    assert (
        got.groupBy("source", "calibrated").count().filter(F.col("count") > 1).count()
        > 0
    ), "vacuous: no tied calibrated values"
    check(got, duck, oracles.calibrate_scores_sql())


def test_calibrate_scores_semantics(spark):
    """Hand-checked percent_ranks: ties share the min rank, single-row
    and constant-score groups calibrate to 0, n_buckets=2 forces the
    two-phase path across cells."""
    df = spark.createDataFrame(
        [
            (1, "A", 1.0), (2, "A", 2.0), (3, "A", 2.0), (4, "A", 5.0),
            (5, "B", 9.0),
            (6, "C", 7.0), (7, "C", 7.0),
        ],
        "doc_id long, source string, score double",
    )
    got = {
        r["doc_id"]: r["calibrated"]
        for r in sampling.calibrate_scores(
            df, score_col="score", n_buckets=2
        ).collect()
    }
    third = round(1 / 3, 6)
    assert got == {1: 0.0, 2: third, 3: third, 4: 1.0, 5: 0.0, 6: 0.0, 7: 0.0}


# --- round-13 staged: exact two-sample KS distribution drift -----------------


def test_ks_drift_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import relational

    ev = Catalog(spark, sf_dir).events
    got = relational.ks_drift(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )
    row = got.collect()[0]
    assert row["d_stat"] is not None and row["d_stat"] > 0
    check(
        got,
        duck,
        oracles.ks_drift_sql(
            "SELECT value FROM events WHERE event_type = 'error'",
            "SELECT value FROM events WHERE event_type = 'purchase'",
        ),
    )


def test_ks_drift_semantics(spark):
    """Hand-checkable CDFs: identical samples -> D = 0; disjoint ranges
    -> D = 1; a known half-shift -> the textbook sup; one empty side
    -> NULL; forced multi-cell path (n_buckets=2) agrees."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    mk = lambda vals: spark.createDataFrame(  # noqa: E731
        [(float(x),) for x in vals], "value double"
    )
    same = relational.ks_drift(mk([1, 2, 3, 4]), mk([1, 2, 3, 4]), "value").collect()[0]
    assert same["d_stat"] == 0.0 and same["n_values"] == 4
    disj = relational.ks_drift(mk([1, 2]), mk([10, 20]), "value").collect()[0]
    assert disj["d_stat"] == 1.0
    # old {1,2,3,4}, new {3,4,5,6}: sup at v=2 -> |2/4 - 0/4| = 0.5
    half = relational.ks_drift(
        mk([1, 2, 3, 4]), mk([3, 4, 5, 6]), "value", n_buckets=2
    ).collect()[0]
    assert half["d_stat"] == 0.5 and half["n_old"] == 4 and half["n_new"] == 4
    empt = relational.ks_drift(mk([]), mk([1.0, 2.0]), "value").collect()
    assert len(empt) == 1 and empt[0]["d_stat"] is None
    # BOTH sides empty is still exactly one report row (zero counts,
    # NULL d_stat) — collect()[0] is safe unconditionally (r13 advice:
    # the grouped form returned zero rows here)
    both = relational.ks_drift(mk([]), mk([]), "value").collect()
    assert len(both) == 1
    assert both[0]["n_old"] == 0 and both[0]["n_new"] == 0
    assert both[0]["n_values"] == 0 and both[0]["d_stat"] is None


# --- round-13 staged: margin-criterion cross-corpus mining -------------------


def test_margin_matches_ab_parity(spark, sf_dir, duck):
    emb = Catalog(spark, sf_dir).embeddings
    got = similarity.margin_matches_ab(
        emb.filter(F.col("vec_id") % 3 == 0),
        emb.filter(F.col("vec_id") % 3 == 1),
        k=4,
    )
    assert got.count() > 0, "vacuous: no pair clears margin 1.0"
    check(
        got,
        duck,
        oracles.margin_matches_ab_sql(
            "vec_id % 3 = 0", "vec_id % 3 = 1", k=4, margin_threshold=1.0
        ),
    )


def test_margin_matches_python_replay(spark, sf_dir):
    """Independent gate: rebuild the margins in pure pandas from the
    SAME candidate set (cosine_matches_ab at threshold -2 -> every LSH
    candidate with its round-6 cosine) and compare the full result."""
    emb = Catalog(spark, sf_dir).embeddings
    a = emb.filter(F.col("vec_id") % 3 == 0)
    b = emb.filter(F.col("vec_id") % 3 == 1)
    cand = similarity.cosine_matches_ab(a, b, threshold=-2.0).toPandas()
    cand["ci"] = (cand["cos"] * 1_000_000).round(0).astype("int64")
    k = 4

    def topk_stats(df, key, tie):
        df = df.sort_values(["ci", tie], ascending=[False, True], kind="mergesort")
        top = df.groupby(key, sort=False).head(k)
        return top.groupby(key)["ci"].agg(["sum", "count"])

    da = topk_stats(cand, "id_a", "id_b")
    db = topk_stats(cand, "id_b", "id_a")
    m = cand.join(da, on="id_a").join(db, on="id_b", lsuffix="_a", rsuffix="_b")
    den = (m["sum_a"] / m["count_a"] + m["sum_b"] / m["count_b"]) / 2.0
    m = m[den > 0].assign(margin=(m["ci"] / den[den > 0]).round(6))
    want = {
        (r.id_a, r.id_b): r.margin
        for r in m[m["margin"] >= 1.0].itertuples()
    }
    got = {
        (r["id_a"], r["id_b"]): r["margin"]
        for r in similarity.margin_matches_ab(
            a, b, k=k
        ).collect()
    }
    assert set(got) == set(want)
    for pair, mg in got.items():
        assert abs(mg - want[pair]) < 1e-9, (pair, mg, want[pair])


def test_margin_identical_vectors_is_one(spark):
    """Identical directions: every candidate cosine is 1, both
    neighborhood averages are 1, so every margin is exactly 1.0."""
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.margin_matches_ab(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=2,
    ).collect()
    assert len(out) == 9  # all 3x3 pairs collide in every band
    assert all(r["cos"] == 1.0 and r["margin"] == 1.0 for r in out)


# --- round-13: fused one-scan profile_drift_where ----------------------------


def test_profile_drift_where_matches_two_frame_form(spark, sf_dir):
    """The fused conditional-aggregation path returns row-for-row what
    the generic two-frame profile_drift returns (same registered
    oracle gates both)."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    li = Catalog(spark, sf_dir).lineitem
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]
    pred = F.col("l_orderkey") % 3 != 0
    fused = sorted(
        map(tuple, relational.profile_drift_where(li, pred, cols).collect())
    )
    two = sorted(
        map(tuple, relational.profile_drift(li.filter(pred), li, cols).collect())
    )
    assert fused == two


def test_profile_drift_where_null_and_range_semantics(spark):
    """Nulls only in the new slice move null_rate_delta; a value only
    in the new slice flips range_changed."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, None, "z"), (4, 30, None)],
        "id long, v int, s string",
    )
    rows = {
        r["col_name"]: r
        for r in relational.profile_drift_where(
            df, F.col("id") <= 2, ["v", "s"]
        ).collect()
    }
    v = rows["v"]
    assert v["n_rows_old"] == 2 and v["n_rows_new"] == 4
    assert v["n_nulls_old"] == 0 and v["n_nulls_new"] == 1
    assert v["n_distinct_old"] == 2 and v["n_distinct_new"] == 3
    assert v["null_rate_delta"] == 0.25 and v["range_changed"]  # max 20 -> 30
    s = rows["s"]
    assert s["range_changed"]  # max 'b' -> 'z'
    assert s["n_nulls_new"] == 1


def test_profile_drift_where_registered_slim_args_parity(spark, sf_dir, duck):
    """The r15-slimmed REGISTERED form (r14 verdict item 6: certify
    the one-scan strategy without the l_orderkey exact-distinct that
    dominated the suite cost): (l_quantity, l_returnflag) under an
    l_quantity < 45 slice — oracle rebuilt from the same builder with
    the slim args, and both range_changed branches stay live
    (quantity's old max drops to 44 -> True; returnflag's min/max
    survive the slice -> False)."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    li = Catalog(spark, sf_dir).lineitem
    got = relational.profile_drift_where(
        li, F.col("l_quantity") < 45, ["l_quantity", "l_returnflag"]
    )
    rows = {r["col_name"]: r for r in got.collect()}
    assert rows["l_quantity"]["range_changed"] is True
    assert rows["l_returnflag"]["range_changed"] is False
    check(
        got,
        duck,
        oracles.profile_drift_sql(
            "lineitem", ["l_quantity", "l_returnflag"], "l_quantity < 45"
        ),
    )


# --- round-13 staged: binned KS for stream-vs-reference drift ----------------


def test_streaming_ks_drift_composition_parity(spark, sf_dir, duck):
    """The stream/batch drift pair: the live slice (odd event ids)
    streams into occupied-bucket counts, the reference slice (even
    ids) profiles in batch with the same binning, ks_from_histograms
    compares the materialized views — all replayed by the binned-KS
    SQL oracle over the identical CASE-free bucket expression."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.operators import relational

    ev_stream = strm.read_events_stream(spark, sf_dir).filter(
        F.col("event_id") % 2 == 1
    )
    live = strm.queries.streaming_value_histogram(ev_stream, 25.0)
    strm.run_to_memory(live, "_test_ks_live", state_partitions=8)
    ref = relational.value_histogram(
        Catalog(spark, sf_dir).events.filter(F.col("event_id") % 2 == 0),
        "value",
        25.0,
    )
    got = relational.ks_from_histograms(ref, spark.table("_test_ks_live"))
    row = got.collect()[0]
    assert row["d_stat"] is not None and row["n_buckets"] > 1
    hist = (
        "SELECT CAST(floor(CAST(value AS DECIMAL(38,6)) / 25) * 25 AS DOUBLE) "
        "AS bucket_start, count(*) AS n FROM events WHERE event_id % 2 = {p} "
        "GROUP BY 1"
    )
    check(
        got,
        duck,
        oracles.ks_binned_sql(hist.format(p=0), hist.format(p=1)),
    )
    spark.catalog.dropTempView("_test_ks_live")


def test_ks_binned_equals_raw_on_bucket_multiples(spark):
    """When every value is already a bucket multiple the quantization
    is lossless and the binned D equals raw-value ks_drift's D."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    mk = lambda vals: spark.createDataFrame(  # noqa: E731
        [(float(v),) for v in vals], "value double"
    )
    old, new = [0, 10, 10, 20, 40], [10, 20, 30, 30]
    raw = relational.ks_drift(mk(old), mk(new), "value").collect()[0]
    binned = relational.ks_from_histograms(
        relational.value_histogram(mk(old), "value", 10.0),
        relational.value_histogram(mk(new), "value", 10.0),
    ).collect()[0]
    assert binned["d_stat"] == raw["d_stat"]
    assert (binned["n_old"], binned["n_new"]) == (5, 4)


def test_ks_drift_ignores_nulls(spark):
    """NULL values are excluded from both sides (a CDF over NULLs is
    meaningless, and engines disagree on NULL sort position); counts
    reflect non-null observations only."""
    from pagerank_mapreduce_implementation_spark.operators import relational

    old = spark.createDataFrame([(1.0,), (2.0,), (None,)], "value double")
    new = spark.createDataFrame([(None,), (1.0,), (2.0,)], "value double")
    row = relational.ks_drift(old, new, "value").collect()[0]
    assert (row["n_old"], row["n_new"], row["d_stat"]) == (2, 2, 0.0)


def test_streaming_ks_drift_equals_batch_twin(spark, sf_dir):
    """Stream/batch parity for the drift pair: the availableNow stream
    histogram of the live slice is row-identical to the batch
    histogram, so the KS against the same reference is the SAME row —
    a batch backfill and the live monitor can never disagree."""
    from pagerank_mapreduce_implementation_spark import streaming as strm
    from pagerank_mapreduce_implementation_spark.operators import relational

    live_pred = F.col("event_id") % 2 == 1
    ev_stream = strm.read_events_stream(spark, sf_dir).filter(live_pred)
    strm.run_to_memory(
        strm.queries.streaming_value_histogram(ev_stream, 25.0),
        "_test_ks_twin",
        state_partitions=8,
    )
    ev = Catalog(spark, sf_dir).events
    ref = relational.value_histogram(
        ev.filter(F.col("event_id") % 2 == 0), "value", 25.0
    )
    batch_live = relational.value_histogram(ev.filter(live_pred), "value", 25.0)
    via_stream = relational.ks_from_histograms(
        ref, spark.table("_test_ks_twin")
    ).collect()
    via_batch = relational.ks_from_histograms(ref, batch_live).collect()
    assert [tuple(r) for r in via_stream] == [tuple(r) for r in via_batch]
    spark.catalog.dropTempView("_test_ks_twin")


# --- round-13 staged: MinHash banding recall audit ---------------------------


def test_minhash_recall_report_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import dedup

    got = dedup.minhash_recall_report(
        Catalog(spark, sf_dir).documents,
        drop_rate=0.15,
        sample_mod=10,
        threshold=0.3,
    )
    row = got.collect()[0]
    assert row["n_planted"] > 0 and row["n_qualifying"] > 0
    assert row["recall"] is not None and 0.0 <= row["recall"] <= 1.0
    check(
        got,
        duck,
        oracles.minhash_recall_report_sql(
            drop_rate=0.15, sample_mod=10, threshold=0.3, ngram=2
        ),
    )


def test_minhash_recall_extremes(spark):
    """drop_rate=0 plants verbatim twins (Jaccard 1.0 — identical
    signatures collide in every band, recall must be 1.0); a plant set
    whose twins share nothing qualifies nothing (recall NULL)."""
    from pagerank_mapreduce_implementation_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"tok{i}_{j}" for j in range(12)))
            for i in range(8)
        ],
        "doc_id long, text string",
    )
    r = dedup.minhash_recall_report(
        docs, drop_rate=0.0, sample_mod=2, threshold=0.5
    ).collect()[0]
    assert r["n_planted"] == 4 and r["n_qualifying"] == 4
    assert r["hits"] == 4 and r["recall"] == 1.0
    # drop everything: twins are empty -> no shingles -> nothing
    # qualifies -> recall is NULL, not a fake 1.0
    r2 = dedup.minhash_recall_report(
        docs, drop_rate=0.999999999, sample_mod=2, threshold=0.5
    ).collect()[0]
    assert r2["n_planted"] == 4 and r2["n_qualifying"] == 0
    assert r2["recall"] is None


# --- round-13 staged: keyword-taxonomy domain classification -----------------


def test_classify_domains_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    got = textstats.classify_domains(Catalog(spark, sf_dir).documents)
    n_domains = got.filter(F.col("domain").isNotNull()).select("domain").distinct().count()
    assert n_domains >= 2, "vacuous: taxonomy never discriminates"
    check(got, duck, oracles.classify_domains_sql())


def test_classify_domains_semantics(spark):
    """Argmax + tiebreak + zero-hit semantics on hand-built docs: a
    clear winner classifies, an exact tie goes to the
    lexicographically-largest domain (the struct-max order), repeats
    count, and a no-hit doc reports NULL/0/NULL."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "join filter join bird"),   # query 3, others 0
            (2, "join stream"),             # tie 1-1 -> stream (lex-largest)
            (3, "bird rock tree"),          # no hits
            (4, "TABLE Table table join"),  # case-folds: storage 3, query 1
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["domain"], r["hits"], r["total_hits"], r["confidence"])
        for r in textstats.classify_domains(docs).collect()
    }
    assert rows[1] == ("query", 3, 3, 1.0)
    assert rows[2] == ("stream", 1, 2, 0.5)
    assert rows[3] == (None, 0, 0, None)
    assert rows[4] == ("storage", 3, 4, 0.75)
