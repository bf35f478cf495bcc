"""Local correctness gate for the unregistered operators wired into
clean_corpus as its encoding gate and blocklist stage (encoding_qa,
blocklist_hits): DuckDB parity through the registry harness's
normalize/compare, plus semantics on hand-checkable fixtures,
plan-shape asserts and hypothesis cross-engine gates."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

# slow tier (r17): excluded from the driver's default fast run -- see pytest.ini
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark import oracles
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


# --- blocklist policy filter -----------------------------------------------


BLOCKLIST = ["spark", "error", "the"]


def test_blocklist_hits_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    got = textstats.blocklist_hits(
        Catalog(spark, sf_dir).documents, BLOCKLIST, max_hit_ratio=0.05
    )
    rows = got.collect()
    assert any(r["n_hits"] > 0 for r in rows), "vacuous: no blocklist hits"
    assert any(r["flagged"] for r in rows) and not all(r["flagged"] for r in rows)
    check(got, duck, oracles.blocklist_hits_sql(BLOCKLIST, max_hit_ratio=0.05))


def test_blocklist_hits_semantics(spark):
    """Whole-token matching (no substring Scunthorpe trap), lowercase
    folding on BOTH sides, distinct-vs-total hit counts, empty doc
    ratio 0, and the C4 default (max_hit_ratio=0) flagging any hit."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "BAD bad badger"),
            (2, "clean words only"),
            (3, ""),
            (4, "bad worse bad worse"),
            (5, None),  # NULL text counts as '' (dedup.tokens_null_safe)
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in textstats.blocklist_hits(docs, ["Bad", "WORSE"]).collect()
    }
    assert rows[5]["n_tokens"] == 0 and not rows[5]["flagged"]
    # "badger" must NOT match "bad"; BAD/bad fold together
    assert rows[1]["n_hits"] == 2 and rows[1]["n_distinct_hits"] == 1
    assert rows[1]["flagged"]
    assert rows[2]["n_hits"] == 0 and not rows[2]["flagged"]
    assert rows[3]["n_tokens"] == 0 and rows[3]["hit_ratio"] == 0.0
    assert not rows[3]["flagged"]
    assert rows[4]["n_hits"] == 4 and rows[4]["n_distinct_hits"] == 2
    assert rows[4]["hit_ratio"] == 1.0


def test_blocklist_hits_guards(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = Catalog(spark, sf_dir).documents
    with pytest.raises(ValueError):
        textstats.blocklist_hits(docs, [])
    with pytest.raises(ValueError):
        textstats.blocklist_hits(docs, ["a"], max_hit_ratio=1.5)


def test_blocklist_hits_zero_shuffle_plan(spark, sf_dir):
    import re as _re

    from pagerank_mapreduce_implementation_spark.operators import textstats

    df = textstats.blocklist_hits(Catalog(spark, sf_dir).documents, BLOCKLIST)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Python" not in p
    scan_cols = _re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert scan_cols is not None
    assert len(scan_cols.group(1).split(",")) <= 2


# --- encoding QA -----------------------------------------------------------


def test_encoding_qa_parity(spark, sf_dir, duck):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    got = textstats.encoding_qa(Catalog(spark, sf_dir).documents)
    rows = got.collect()
    assert all(r["ascii_ratio"] is not None for r in rows)
    check(got, duck, oracles.encoding_qa_sql())


# fixture text built from escapes only (no literal control chars in
# source): the cp1252-mojibake forms of e/ï (C3 xx -> "Ã..."),
# left double quote (E2 80 9C -> "â€œ") and ellipsis
# (E2 80 A6 -> "â€¦"), and the nbsp signature C2 A0.
_MOJI_DOC = (
    "cafÃ© naÃ¯ve "
    "â€œqâ€¦ Â x"
)


def test_encoding_qa_semantics(spark):
    """Injected pathologies: U+FFFD, C0 controls (tab/newline exempt),
    the three mojibake digraph markers, non-ascii ratio behavior, an
    astral-plane emoji (code-POINT length), and the clean doc."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = spark.createDataFrame(
        [
            (1, "clean ascii text."),
            (2, "lost � bytes � here"),
            (3, "bin\x00ary\x1fjunk\x7f ok\tfine\nyes"),
            (4, _MOJI_DOC),
            (5, "你好世界 only cjk"),
            (6, "emoji \U0001f600 ok"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textstats.encoding_qa(docs).collect()}
    r1 = rows[1]
    assert not r1["flagged"] and r1["ascii_ratio"] == 1.0
    assert r1["n_replacement"] == r1["n_control"] == r1["n_mojibake"] == 0
    assert rows[2]["n_replacement"] == 2 and rows[2]["flagged"]
    # \x00, \x1f, \x7f count; \t and \n are exempt
    assert rows[3]["n_control"] == 3 and rows[3]["flagged"]
    # markers: Ã x2 (e/ï), â€ x2 (quote/ellipsis), Â x1
    assert rows[4]["n_mojibake"] == 5 and rows[4]["flagged"]
    r5 = rows[5]
    # 4 CJK of 13 codepoints -> 9/13 ascii, above the 0.5 gate
    assert r5["n_chars"] == 13 and r5["ascii_ratio"] == round(9 / 13, 6)
    assert not r5["flagged"]
    r6 = rows[6]
    # the emoji is ONE code point (astral plane)
    assert r6["n_chars"] == 10 and r6["ascii_ratio"] == round(9 / 10, 6)


def test_encoding_qa_unicode_parity(spark):
    """Cross-engine codepoint parity pinned on a hostile frame: astral
    emoji, CJK, the markers, U+FFFD, a C0 control, empty and
    whitespace-only docs — the exact frame compares equal through
    DuckDB's length/replace/regexp and Spark's."""
    import duckdb as _duck
    import pandas as _pd

    from pagerank_mapreduce_implementation_spark.operators import textstats

    rows = [
        (1, "emoji \U0001f600\U0001f680 double"),
        (2, "mix Ã© � \x01 你"),
        (3, ""),
        (4, "   "),
        (5, _MOJI_DOC),
        (6, None),  # NULL text counts as '' on both engines
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = normalize(textstats.encoding_qa(docs).toPandas())
    con = _duck.connect()
    con.register("documents", _pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = normalize(con.sql(oracles.encoding_qa_sql()).df())
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_encoding_qa_guards(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    with pytest.raises(ValueError):
        textstats.encoding_qa(
            Catalog(spark, sf_dir).documents, min_ascii_ratio=1.5
        )


def test_encoding_qa_zero_shuffle_plan(spark, sf_dir):
    import re as _re

    from pagerank_mapreduce_implementation_spark.operators import textstats

    df = textstats.encoding_qa(Catalog(spark, sf_dir).documents)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p
    assert "Python" not in p
    scan_cols = _re.search(r"FileScan parquet \[([^\]]*)\]", p)
    assert scan_cols is not None
    assert len(scan_cols.group(1).split(",")) <= 2


# --- clean_corpus wiring (stages 0b encoding gate + 1d blocklist) ----------


def test_clean_corpus_encoding_and_blocklist_stages(spark, tmp_path):
    """End-to-end program pass: the encoding gate drops the U+FFFD doc
    and the control-char doc, the blocklist stage drops the flagged
    doc, clean docs survive byte-identical with full schema."""
    from pagerank_mapreduce_implementation_spark.programs import clean_corpus

    rows = [
        (1, "a perfectly clean document of words", "en", "web", 35),
        (2, "broken � bytes here", "en", "web", 19),
        (3, "control\x00chars", "en", "web", 13),
        (4, "totally forbidden words here", "en", "web", 28),
        (5, "another clean survivor document", "en", "web", 31),
    ]
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(src)
    kept = clean_corpus(
        spark,
        src,
        out,
        encoding_gate=True,
        blocklist=["forbidden"],
        near_dup_threshold=1.01,  # disable near-dup for this fixture
    )
    got = {r["doc_id"]: r for r in kept.collect()}
    assert sorted(got) == [1, 5]
    assert got[1]["text"] == rows[0][1]  # byte-identical passthrough
    assert set(kept.columns) == {"doc_id", "text", "lang", "source", "n_chars"}


def test_blocklist_keep_cols_flag_only(spark, sf_dir):
    """Filter-consumer mode rides the full row (documents' own n_chars
    does NOT collide) and emits just the flag; full mode raises on a
    colliding keep_col instead of producing a duplicate name."""
    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = Catalog(spark, sf_dir).documents
    passthru = tuple(c for c in docs.columns if c != "doc_id")
    out = textstats.blocklist_hits(
        docs, ["spark"], keep_cols=passthru, flag_only=True
    )
    assert out.columns == ["doc_id", *passthru, "flagged"]
    clashing = docs.withColumn("n_tokens", F.lit(0))
    with pytest.raises(ValueError):
        textstats.blocklist_hits(
            clashing, ["spark"], keep_cols=("n_tokens",), flag_only=False
        )
    with pytest.raises(ValueError):
        textstats.blocklist_hits(docs, ["spark"], keep_cols=("lang", "lang"))


def test_encoding_qa_keep_cols_flag_only(spark, sf_dir):
    from pagerank_mapreduce_implementation_spark.operators import textstats

    docs = Catalog(spark, sf_dir).documents
    passthru = tuple(c for c in docs.columns if c != "doc_id")
    out = textstats.encoding_qa(docs, keep_cols=passthru, flag_only=True)
    assert out.columns == ["doc_id", *passthru, "flagged"]
    with pytest.raises(ValueError):
        textstats.encoding_qa(docs, keep_cols=("n_chars",), flag_only=False)


# --- hypothesis cross-engine gates (the winnow non-ascii precedent) --------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PROP = dict(
    max_examples=6, deadline=None, suppress_health_check=list(HealthCheck)
)

# convention edges on purpose: mojibake markers (Ã, â, €, Â), U+FFFD,
# a C0 control, U+000B (ASCII-\s member RE2's \s drops — the repo's
# [[:space:]] convention), NBSP (whitespace in NEITHER engine), CJK,
# an astral-plane emoji, plus plain ascii tokens
_HOSTILE_ALPHABET = "ab x\t.\x01\x0b Ã€âÂ�你\U0001f600"


def _hostile_rows():
    return st.lists(
        st.one_of(
            st.text(alphabet=_HOSTILE_ALPHABET, min_size=0, max_size=30),
            st.none(),
        ),
        min_size=1,
        max_size=5,
    )


@settings(**_PROP)
@given(texts=_hostile_rows())
def test_encoding_qa_hypothesis_duckdb_gate(spark, texts):
    """encoding_qa over arbitrary hostile text (controls, mojibake
    digraph fragments, astral plane, NBSP, U+000B, NULL rows) must
    compare exactly against the DuckDB replay — the generative form of
    the pinned-fixture unicode parity test."""
    import duckdb as _duck
    import pandas as _pd

    from pagerank_mapreduce_implementation_spark.operators import textstats

    rows = [(i, t) for i, t in enumerate(texts)]
    got = normalize(
        textstats.encoding_qa(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).toPandas()
    )
    con = _duck.connect()
    con.register("documents", _pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = normalize(con.sql(oracles.encoding_qa_sql()).df())
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


@settings(**_PROP)
@given(texts=_hostile_rows())
def test_blocklist_hits_hypothesis_duckdb_gate(spark, texts):
    """blocklist_hits parity under hostile tokens and NULL rows; the
    blocklist includes single-char tokens the alphabet can actually
    produce so hits occur across examples."""
    import duckdb as _duck
    import pandas as _pd

    from pagerank_mapreduce_implementation_spark.operators import textstats

    blk = ["ab", "你", "x.", "\U0001f600"]
    rows = [(i, t) for i, t in enumerate(texts)]
    got = normalize(
        textstats.blocklist_hits(
            spark.createDataFrame(rows, "doc_id long, text string"),
            blk,
            max_hit_ratio=0.3,
        ).toPandas()
    )
    con = _duck.connect()
    con.register("documents", _pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = normalize(con.sql(oracles.blocklist_hits_sql(blk, 0.3)).df())
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
