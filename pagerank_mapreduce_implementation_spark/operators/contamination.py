"""Benchmark-contamination detection (engine extension; no analogue in
the reference — SURVEY.md §2.4).

The standard decontamination pass of a training-data pipeline: flag
training documents that share long word n-grams with an evaluation/
benchmark set (the n-gram-overlap rule popularized by GPT-3's 13-gram
dedup and used in most open LLM data recipes). A training doc that
reproduces benchmark text inflates eval scores; the pipeline drops or
audits flagged docs.

Physical shape (100 TB posture):
- the TRAINING side is the corpus: its shingle explode is narrow and
  its only shuffle is the final per-doc aggregation.
- the BENCHMARK side is small by nature (eval sets are a few MB):
  its distinct shingle set is exactly the kind of table AQE broadcasts
  from measured size — the contamination join then never shuffles the
  corpus-side shingles. No hint is forced (same policy as tf_idf: the
  runtime decides from stats, a hard-coded broadcast of an unexpectedly
  large eval suite would be a driver OOM).
- the join key is the raw shingle string; at extreme scale substitute
  the 60-bit md5 prefix (dedup._word_hash60) on BOTH sides — equality
  semantics survive hashing with negligible collision mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_mapreduce_implementation_spark.operators.dedup import shingles


def contamination_check(
    train: DataFrame,
    bench: DataFrame,
    ngram: int = 8,
    threshold: float = 0.01,
) -> DataFrame:
    """Per training doc, overlap with the benchmark shingle set:
    ``(doc_id, n_shingles, n_contaminated, contamination_ratio,
    is_contaminated)``.

    - ``n_shingles``: distinct word ``ngram``-grams in the doc,
    - ``n_contaminated``: how many of those appear in ANY benchmark doc,
    - ``contamination_ratio``: n_contaminated / n_shingles (0 for docs
      too short to form a shingle),
    - ``is_contaminated``: ``n_shingles > 0 AND ratio >= threshold``
      (a single shared 8-gram is already a strong signal on real
      corpora; the default 1% ratio keeps the flag robust to
      coincidental short overlaps; the n_shingles guard means docs too
      short to shingle are never flagged, even at threshold=0.0).

    Docs with zero overlap (or too short to shingle) are KEPT with
    zero counts — the output is an audit table over the full corpus,
    not just the flagged rows (filter ``is_contaminated == 1`` to get
    the drop list).
    """
    t_sh = shingles(train, ngram)
    b_sh = (
        shingles(bench, ngram)
        .select("shingle")
        .distinct()
        .withColumn("__bench", F.lit(1))
    )
    per_doc = (
        t_sh.join(b_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__bench").alias("n_contaminated"),
        )
    )
    # docs too short for any ngram-shingle never reach per_doc — keep
    # them at 0/0 via a left join from the full doc list
    all_docs = train.select("doc_id")
    ratio = F.when(
        F.col("n_shingles") > 0,
        F.col("n_contaminated").cast("double") / F.col("n_shingles"),
    ).otherwise(F.lit(0.0))
    return (
        all_docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            F.round(ratio, 6).alias("contamination_ratio"),
            # n_shingles > 0 guard: a doc too short to shingle is never
            # contaminated, even at threshold=0.0 (matches the oracle's
            # "n_shingles > 0 AND ratio >= t" flag).
            ((F.col("n_shingles") > 0) & (ratio >= threshold))
            .cast("int")
            .alias("is_contaminated"),
        )
    )


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    ngram: int = 8,
    threshold: float = 0.01,
) -> DataFrame:
    """The drop pass: training rows whose contamination_ratio is below
    ``threshold`` (caller's schema preserved — the same anti-join shape
    as dedup.embedding_near_dup_survivors)."""
    flagged = (
        contamination_check(train, bench, ngram, threshold)
        .filter(F.col("is_contaminated") == 1)
        .select("doc_id")
    )
    return train.join(flagged, "doc_id", "left_anti")


def fuzzy_contamination(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.5,
    ngram: int = 5,
    bands: int = 4,
) -> DataFrame:
    """Paraphrase-robust contamination: training docs whose MinHash
    signature collides with a BENCHMARK doc in >= 1 LSH band, verified
    by exact cross-corpus shingle Jaccard — ``(doc_id, bench_id,
    jaccard)`` with ``jaccard >= threshold``. The fuzzy sibling of
    ``contamination_check``: the exact long-n-gram rule misses a
    benchmark passage that was lightly reworded or re-wrapped (every
    edit breaks all the 8-grams that span it), while set-level Jaccard
    over short shingles degrades gracefully with edit density — the
    near-dedup decontamination move of the open data recipes that
    fuzzy-dedup against eval sets rather than substring-match them.

    Physical shape: both corpora go through the ONE-base-hash MinHash
    (``dedup.minhash_signatures``) and band-bucket explode; the
    candidate join keys on (band, bucket) with the bench side
    eval-set-sized, so the runtime broadcasts it from measured stats
    (the ``contamination_check`` policy — no forced hint); the exact
    verify touches only candidate pairs. Recall is band-limited, the
    standard LSH tradeoff — tune ``bands`` (over ``dedup.NUM_HASHES``
    hashes) to the target threshold.
    """
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        band_buckets,
        minhash_signatures,
        shingles,
    )

    t_sh = shingles(train, ngram)
    b_sh = shingles(bench, ngram)
    t_bk = band_buckets(minhash_signatures(t_sh), bands)
    b_bk = band_buckets(minhash_signatures(b_sh), bands).select(F.col("doc_id").alias("bench_id"), "band", "bucket")
    cand = (
        t_bk.join(b_bk, ["band", "bucket"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    na = t_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    nb = b_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb")).select(
        F.col("doc_id").alias("bench_id"), "nb"
    )
    inter = (
        cand.join(t_sh, "doc_id")
        .join(
            b_sh.select(F.col("doc_id").alias("bench_id"), "shingle"),
            ["bench_id", "shingle"],
        )
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.round(
        F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")),
        6,
    )
    return (
        inter.join(na, "doc_id")
        .join(nb, "bench_id")
        .select("doc_id", "bench_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def contamination_spans(
    train: DataFrame,
    bench: DataFrame,
    ngram: int = 8,
) -> DataFrame:
    """WHERE the leak is, not just how much: merged token spans of
    benchmark-shared n-grams per training doc → ``(doc_id, start_tok,
    end_tok, n_grams)`` with 0-based inclusive token indices — the
    actionable form of ``contamination_check``'s ratio (a surgical
    pipeline redacts the span; a blunt one drops the doc; both need
    the positions, which the distinct-shingle audit throws away).

    Overlapping or ADJACENT leaked grams coalesce into one span
    (gaps-and-islands over the per-doc leaked positions — the
    ``substring_runs`` trick at token granularity): a verbatim leaked
    passage of L tokens reports as ONE row spanning it, carrying
    ``n_grams = L - ngram + 1``.

    Physical shape: positional shingles stay a per-row explode (no
    distinct — positions must survive); the benchmark side reduces to
    its distinct shingle set, small by nature, which AQE broadcasts
    from measured size into the semi-join; the islands window
    partitions by doc over LEAKED positions only (contamination is
    sparse — the window input is hit-sized, not corpus-sized).
    """
    if ngram < 1:
        raise ValueError(f"ngram ({ngram}) must be >= 1")
    from pyspark.sql import Window

    arr = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != "")
    toks = train.select("doc_id", arr.alias("toks"))
    pos_sh = F.when(
        F.size("toks") >= ngram,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - ngram + 1),
            lambda i: F.struct(
                (i - 1).cast("long").alias("pos"),
                F.array_join(F.slice("toks", i, ngram), " ").alias("shingle"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:bigint,shingle:string>>"))
    occ = (
        toks.select("doc_id", F.explode(pos_sh).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.shingle").alias("shingle"))
    )
    b_sh = shingles(bench, ngram).select("shingle").distinct()
    hits = occ.join(b_sh, "shingle").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # new island when this gram's token range can no longer touch the
    # previous gram's: pos > prev_pos + ngram (ranges are fixed-length,
    # so the running span end is prev_pos + ngram - 1)
    flagged = hits.withColumn(
        "ni",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") > F.lag("pos").over(w) + ngram),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("ni").over(w))
    return (
        flagged.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(ngram - 1)).cast("long").alias("end_tok"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select("doc_id", "start_tok", "end_tok", "n_grams")
    )
