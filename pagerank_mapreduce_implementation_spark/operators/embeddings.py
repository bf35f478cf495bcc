"""Embedding-table utilities for a training-data pipeline: matryoshka
truncation, per-group mean pooling, the distributed gram/covariance
pass, and PCA projection built on it.

The reference engine (PageRank-MapReduce, 3 Java jobs over wiki text)
has no embedding surface; these extend the LLM-pipeline side of the
repo (brief: dedup / similarity / multimodal / text analysis are
first-class) alongside ``operators/similarity.py``'s ANN stack.

Scale notes live per-function; the shared theme is the one every
similarity op follows: per-row array math stays in codegen (zero
shuffle), cross-row reductions are either a single d- or d^2-sized
aggregate (constant in corpus size) or an Arrow-batched numpy pass
whose output is partition-count-sized — never row-count-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pagerank_mapreduce_implementation_spark.operators.similarity import _dot, _norm


def _uniform_dims(emb: DataFrame) -> int | None:
    """Vector length of ``embedding``, ASSERTING it is uniform across the
    table — the dims probe every op here shares. Inferring dims from an
    arbitrary first row (the previous form) silently mis-handles ragged
    inputs: out-of-range coordinates become NULLs that ``F.avg`` skips,
    so a pooled mean would average DIFFERENT member counts per
    coordinate instead of failing loud (round-11 advice). One min/max
    aggregate — the same single-job cost as the ``first()`` it
    replaces. Returns ``None`` for an empty table."""
    row = emb.agg(
        F.min(F.size(F.col("embedding"))).alias("lo"),
        F.max(F.size(F.col("embedding"))).alias("hi"),
    ).first()
    if row is None or row["lo"] is None:
        return None
    if row["lo"] != row["hi"]:
        raise ValueError(
            f"embedding: ragged vector lengths (min {row['lo']}, max "
            f"{row['hi']}) — embedding ops require uniform dims"
        )
    return int(row["hi"])


def truncate_embeddings(emb: DataFrame, dims: int) -> DataFrame:
    """Matryoshka truncation: keep the first ``dims`` coordinates of
    each vector — ``(vec_id, embedding: array<double>[dims])`` — and
    re-L2-normalize the prefix (the serving contract of
    matryoshka-trained embedders: the prefix IS the low-cost embedding
    once renormalized; Kusupati et al. 2022, public).

    Pure per-row array math — slice, one sequential-fold norm
    (``similarity._dot``'s order-deterministic shape), one transform —
    zero shuffle, scan speed at any corpus size, and the typical use
    (truncate THEN index) shrinks every downstream ANN shuffle by
    ``dims/d``. Vectors shorter than ``dims`` are kept whole (slice
    semantics) and still renormalized; all-zero prefixes stay all-zero
    rather than dividing by 0.
    """
    if dims < 1:
        raise ValueError(f"dims ({dims}) must be >= 1")
    sl = F.transform(F.slice(F.col("embedding"), 1, dims), lambda x: x.cast("double"))
    staged = emb.select("vec_id", sl.alias("__v"))
    # the norm becomes an ATTRIBUTE before the per-element lambda reads
    # it (same shape as quantize_embeddings' __mx): referenced twice and
    # non-cheap, so CollapseProject keeps it materialized — inlining the
    # fold into the lambda would recompute it per element (O(d^2)/row)
    withn = staged.withColumn("__n", _norm(F.col("__v")))
    return withn.select(
        "vec_id",
        F.when(
            F.col("__n") > 0,
            F.transform(F.col("__v"), lambda x: x / F.col("__n")),
        )
        .otherwise(F.col("__v"))
        .alias("embedding"),
    )


def mean_pool_embeddings(
    emb: DataFrame,
    group_col: str = "label",
    exact: bool = False,
) -> DataFrame:
    """Per-group centroid: ``(group_col, n, centroid: array<double>)``
    — the pooling step of class prototypes, per-source embedding
    summaries, and cluster-centroid refresh.

    Default path (scale): the vector is split into ``dims`` scalar
    columns and averaged with ONE groupBy — no posexplode row blow-up
    (exploding would shuffle N x dims rows; this shuffles N rows once
    with map-side partial aggregation), the same shape
    ``similarity.lloyd_centroids`` step (2) uses. ``exact=True`` is the
    audit/oracle configuration: per group, members are collected sorted
    by ``vec_id`` and summed as one sequential left fold, so the
    centroid is bit-independent of partitioning (a group's members
    materialize in one task — fine at audit scale, not the 100 TB
    default; identical trade to ``lloyd_centroids(exact_mean=True)``).
    """
    dims = _uniform_dims(emb)
    if dims is None:
        return emb.select(
            F.col(group_col),
            F.lit(0).cast("long").alias("n"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        ).limit(0)
    if exact:
        folded = (
            emb.groupBy(group_col)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("vec_id").alias("_id"),
                            F.col("embedding").cast("array<double>").alias("v"),
                        )
                    )
                ).alias("ms"),
            )
        )
        summed = F.aggregate(
            F.col("ms"),
            F.array_repeat(F.lit(0.0), dims),
            lambda acc, m: F.zip_with(acc, m["v"], lambda a, x: a + x),
        )
        return folded.select(
            group_col,
            "n",
            F.transform(summed, lambda s: s / F.col("n")).alias("centroid"),
        )
    cols = [F.col("embedding")[i].cast("double").alias(f"__c{i}") for i in range(dims)]
    agged = (
        emb.select(F.col(group_col), *cols)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.avg(f"__c{i}").alias(f"__m{i}") for i in range(dims)],
        )
    )
    return agged.select(
        group_col,
        "n",
        F.array(*[F.col(f"__m{i}") for i in range(dims)]).alias("centroid"),
    )


def embedding_gram(emb: DataFrame) -> DataFrame:
    """The gram matrix G = X^T X of the embedding table as its upper
    triangle — ``(i, j, g)`` with 0-based ``i <= j`` — the one-pass
    sufficient statistic behind PCA/whitening/covariance (d^2 numbers
    summarize any number of rows).

    ONE Arrow-batched ``mapInPandas`` pass computes a partial
    ``X^T X`` per batch in numpy and emits only its d(d+1)/2
    upper-triangle cells; a groupBy(i, j) sums the partials. Shuffle
    volume = partitions x d^2 — independent of row count; the classic
    distributed gram. Cross-partition float summation order is not
    fixed, so results carry ~1e-12 relative noise (irrelevant to PCA;
    the registered query rounds to 6 digits against the oracle's
    sequential fold).
    """
    dims = _uniform_dims(emb)
    if dims is None:
        return emb.sparkSession.createDataFrame([], "i int, j int, g double")

    def _partial(batches):
        import numpy as np
        import pandas as pd

        iu, ju = np.triu_indices(dims)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            g = x.T @ x
            yield pd.DataFrame(
                {"i": iu.astype("int32"), "j": ju.astype("int32"), "g": g[iu, ju]}
            )

    partials = emb.select("embedding").mapInPandas(_partial, "i int, j int, g double")
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def pca_components(
    emb: DataFrame, k: int = 8
) -> tuple[list[float], list[list[float]], int, list[float]]:
    """Top-``k`` principal components of the embedding table:
    ``(eigenvalues desc, components[k][d], n_rows, means[d])`` — the
    means ride along because the fit already aggregates them and every
    centered projection needs them (returning three values forced
    ``pca_project`` into a second full-corpus mean pass; review
    finding).

    Distributed part = ONE gram pass (``embedding_gram``) plus one
    d-sized mean aggregate; the d x d eigendecomposition runs on the
    driver in numpy — the standard split for tall-skinny PCA (the data
    never leaves the cluster, only d^2 floats do). Components are
    sign-canonicalized (the largest-|.| coordinate of each component is
    made positive) so the basis is deterministic up to numerically-tied
    eigenvalues.
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    dims = _uniform_dims(emb)
    if dims is None:
        raise ValueError("pca_components: empty embedding table")
    if k > dims:
        raise ValueError(f"k ({k}) must be <= dims ({dims})")
    cells = embedding_gram(emb).collect()
    pooled = mean_pool_embeddings(
        emb.select(F.lit(1).alias("__g"), F.col("vec_id"), F.col("embedding")),
        group_col="__g",
    ).first()
    n = int(pooled["n"])
    mu = np.array(pooled["centroid"], dtype=np.float64)
    g = np.zeros((dims, dims))
    for r in cells:
        g[r["i"], r["j"]] = r["g"]
        g[r["j"], r["i"]] = r["g"]
    cov = g / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return (
        [float(vals[i]) for i in order],
        comps,
        n,
        [float(x) for x in mu],
    )


def pca_project(
    emb: DataFrame,
    k: int = 8,
    components: list[list[float]] | None = None,
    means: list[float] | None = None,
) -> DataFrame:
    """Project every vector onto the top-``k`` principal components —
    ``(vec_id, proj: array<double>[k])`` — the dimensionality-reduction
    pass before clustering/ANN when the corpus was embedded wider than
    it needs to be served.

    The projection itself is ZERO-shuffle: components are plan-time
    literals (k x d doubles — trivially under broadcast limits) and
    centering folds into a precomputed scalar per component
    (``(v - mu) . c = v . c - mu . c``), so each row pays k
    sequential-fold dot products in codegen. Pass ``components`` and
    ``means`` to reuse a fit — e.g. project a new corpus snapshot onto
    last week's basis; otherwise the basis is fit on ``emb`` via
    ``pca_components``.
    """
    import numpy as np

    if components is None:
        _, components, _, fit_means = pca_components(emb, k=k)
        if means is None:
            means = fit_means
    k = len(components)
    if means is None:
        raise ValueError("pca_project: needs means with components")
    mu_dot = [float(np.dot(means, c)) for c in components]
    v = F.col("__v")
    projs = [
        (
            _dot(v, F.array(*[F.lit(float(x)) for x in comp]))
            - F.lit(mu_dot[ci])
        ).alias(f"__p{ci}")
        for ci, comp in enumerate(components)
    ]
    return (
        emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("__v"),
        )
        .select("vec_id", *projs)
        .select(
            "vec_id",
            F.array(*[F.col(f"__p{ci}") for ci in range(k)]).alias("proj"),
        )
    )


def cluster_top_terms(
    docs: DataFrame,
    emb: DataFrame,
    n_cells: int = 8,
    k: int = 5,
    centroids: list[list[float]] | None = None,
    weighting: str = "count",
) -> DataFrame:
    """Label your clusters — the top-``k`` most frequent lowercased
    whitespace tokens per embedding cell: ``(cell_id, word, cnt, rn)``,
    ties broken by the word so the list is deterministic. The
    interpretability read of a clustered corpus (what IS cell 3?)
    before acting on cluster-level decisions (SemDeDup keeps, mixture
    shifts, topic pruning). ``emb``'s ``vec_id`` names ``docs``'
    ``doc_id`` (the semdedup contract); pass
    ``centroids=lloyd_centroids(...)`` for production cells.

    Scale shape: assignment is ``ivf_assign``'s narrow broadcast fold
    (no shuffle); token counting is ONE (cell, word)-keyed shuffle
    with map-side partials; the per-cell top-k plans WindowGroupLimit
    (each partition pre-prunes to k per cell before the window
    exchange) — the ``quota_sample`` shape on the vocab-bounded count
    table, never the corpus.

    ``weighting="ctfidf"`` ranks by class-TF-IDF instead of raw count
    (Grootendorst 2022, public — the BERTopic labeling move): ``score
    = cnt * log10(1 + N_cells/df_cells)`` with ``df_cells`` = how many
    cells contain the word and ``N_cells`` the cells actually present
    (a broadcast 1-row aggregate) — corpus-wide stopwords get damped
    toward 0, so the label is what makes the cell DIFFERENT, not what
    every cell shares. Adds one vocab-bounded groupBy; the log rides
    the engine's tf-idf convention, rounded 6 behind the hash gate.
    """
    from pyspark.sql.window import Window

    from pagerank_mapreduce_implementation_spark.operators.similarity import ivf_assign

    if k < 1:
        raise ValueError(f"k ({k}) must be >= 1")
    _, assign = ivf_assign(emb, n_cells=n_cells, centroids=centroids)
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    words = (
        docs.select(F.col("doc_id").alias("vec_id"), toks.alias("__t"))
        .join(assign.select("vec_id", "cell_id"), "vec_id")
        .select("cell_id", F.explode("__t").alias("word"))
    )
    if weighting not in ("count", "ctfidf"):
        raise ValueError(
            f"weighting must be 'count' or 'ctfidf', got {weighting!r}"
        )
    cnt = words.groupBy("cell_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    if weighting == "ctfidf":
        dfc = cnt.groupBy("word").agg(F.count(F.lit(1)).alias("__dfc"))
        ncells = cnt.agg(
            F.count_distinct("cell_id").cast("double").alias("__nc")
        )
        cnt = (
            cnt.join(dfc, "word")
            .crossJoin(F.broadcast(ncells))
            .select(
                "cell_id",
                "word",
                "cnt",
                F.round(
                    F.col("cnt")
                    * F.log10(F.lit(1.0) + F.col("__nc") / F.col("__dfc")),
                    6,
                ).alias("score"),
            )
        )
        order = [F.col("score").desc(), F.col("word").asc()]
    else:
        order = [F.col("cnt").desc(), F.col("word").asc()]
    rn = F.row_number().over(Window.partitionBy("cell_id").orderBy(*order))
    return cnt.withColumn("rn", rn).filter(F.col("rn") <= k)


def group_compactness(
    emb: DataFrame,
    group_col: str = "label",
    exact: bool = False,
) -> DataFrame:
    """Embedding-space coherence per group — ``(group_col, n,
    mean_cos)``: the mean cosine of members to their own group
    centroid, the "is this label/cluster/source a tight region or
    noise?" read before trusting group-level decisions (label quality
    audits, cluster pruning, per-source embedding drift). ``mean_cos``
    near 1 = compact; near the random-baseline = the group carries no
    geometric signal.

    Shape: ``mean_pool_embeddings`` for the centroids (``exact`` as
    there — id-ordered folds for the oracle/audit config), ONE
    group-keyed join to ride each centroid (with its norm precomputed,
    so the per-row cost is a single dot-product fold), and one groupBy
    whose cosine sum is decimal(18,12)-cast — exact commutative
    addition under any partitioning — then rounded 6.
    """
    cents = mean_pool_embeddings(
        emb, group_col=group_col, exact=exact
    ).select(group_col, "centroid")
    cents = cents.withColumn("__cn", _norm(F.col("centroid")))
    joined = emb.select(
        F.col(group_col),
        F.col("embedding").cast("array<double>").alias("__v"),
    ).join(cents, group_col)
    # zero-norm guard (review finding): Spark's non-ANSI divide turns
    # dot/0 into NULL, which F.sum would silently SKIP while the count
    # divisor still counts the row — a zero member (or zero centroid)
    # must contribute an explicit cos of 0.0, not shrink the mean
    joined = joined.withColumn("__vn", _norm(F.col("__v")))
    cos = F.when(
        (F.col("__vn") > 0) & (F.col("__cn") > 0),
        _dot(F.col("__v"), F.col("centroid"))
        / (F.col("__vn") * F.col("__cn")),
    ).otherwise(F.lit(0.0))
    return (
        joined.select(F.col(group_col), cos.cast("decimal(18,12)").alias("__c"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                (F.sum("__c").cast("double") / F.count(F.lit(1))), 6
            ).alias("mean_cos"),
        )
    )
