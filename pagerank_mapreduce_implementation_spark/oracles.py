"""DuckDB oracle-SQL builders for the non-trivially-SQL queries.

The driver runs each ``oracle_sql()`` string against DuckDB views of the
same parquet tables and hash-compares with the Spark result (sf0.01).
PageRank is expressible as 10 unrolled CTE iterations replicating the
reference-parity semantics exactly (SURVEY.md §5,§7). The dedup /
similarity extensions are reproducible because every hash is md5-based
(identical hex in both engines) and every float fold is sequential.
"""

from __future__ import annotations

# (src, dst) edge derivation shared by the Spark query and the oracle:
# supplier-to-supplier edges from lineitem. dst spans 2x the supplier
# key range, so half the targets are "red links" (no page of their own,
# dropped per PageRank.java:527); duplicate edges occur naturally
# (multiple lineitems with the same (suppkey, partkey%m)) and scatter
# rank once per occurrence (PageRank.java:454-468).
EDGES_SQL = (
    "SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src, "
    "'s' || CAST((l_partkey % (2 * (SELECT count(*) FROM supplier))) + 1 AS VARCHAR) AS dst "
    "FROM lineitem"
)


def pagerank_sql(
    edges_sql: str = EDGES_SQL,
    n_iters: int = 10,
    damping: float = 0.85,
    round_digits: int = 6,
    limit: int | None = None,
    vertices_sql: str | None = None,
    prelude_ctes: str | None = None,
) -> str:
    """Unrolled reference-parity PageRank as one DuckDB query.

    Per iteration: contrib(dst) = sum over edge occurrences of
    rank(src)/out_degree(src); new rank = (1-d) + d*coalesce(contrib,0)
    over the vertex set only (red links dropped, zero-inbound pages kept
    at (1-d) — PageRank.java:493,515,523,527).

    ``vertices_sql`` overrides the vertex set (default: distinct edge
    src) — needed when dangling pages must remain vertices.
    ``prelude_ctes`` injects extra CTEs (e.g. a parsed-pages table) that
    both edges_sql and vertices_sql can reference.
    """
    head = "WITH " + (prelude_ctes + ", " if prelude_ctes else "")
    parts = [
        f"{head}links AS ({edges_sql}),",
        f"pages AS ({vertices_sql or 'SELECT DISTINCT src AS url FROM links'}),",
        "deg AS (SELECT src, count(*) AS d FROM links GROUP BY src),",
        "r0 AS (SELECT url, 1.0 / (SELECT count(*) FROM pages) AS rank FROM pages),",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"r{i} AS (SELECT p.url, {1.0 - damping} + {damping} * coalesce(s.c, 0) AS rank "
            "FROM pages p LEFT JOIN ("
            "SELECT l.dst AS url, sum(r.rank / d.d) AS c "
            f"FROM links l JOIN r{i - 1} r ON l.src = r.url "
            "JOIN deg d ON l.src = d.src GROUP BY l.dst) s ON p.url = s.url),"
        )
    final = f"SELECT url, round(rank, {round_digits}) AS rank FROM r{n_iters}"
    if limit is not None:
        final += f" ORDER BY rank DESC, url ASC LIMIT {limit}"
    # strip trailing comma from the last CTE
    parts[-1] = parts[-1].rstrip(",") + ","
    sql = "\n".join(parts)
    sql = sql.rstrip(",") if sql.endswith(",") else sql
    return sql + "\n" + final


#: weighted supplier graph — EDGES_SQL plus a quantity weight column
WEIGHTED_EDGES_SQL = (
    "SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src, "
    "'s' || CAST((l_partkey % (2 * (SELECT count(*) FROM supplier))) + 1 AS VARCHAR) AS dst, "
    "CAST(l_quantity AS DOUBLE) AS w FROM lineitem"
)


def weighted_pagerank_sql(
    edges_sql: str = WEIGHTED_EDGES_SQL,
    n_iters: int = 10,
    damping: float = 0.85,
    round_digits: int = 6,
    limit: int | None = None,
    mode: str = "reference",
    reset_sql: str | None = None,
) -> str:
    """Unrolled WEIGHTED / personalized PageRank (mirror of
    operators/graph.pagerank with ``weight_col`` and ``reset``).

    ``edges_sql`` must yield ``(src, dst, w)``. Per iteration the
    contribution is ``sum(rank * w / sum_w(src))``; sources whose
    weights sum to 0 scatter nothing (HAVING filter — they are
    dangling). ``reset_sql`` (yielding ``(url, reset)``) personalizes
    the teleport exactly as the operator does: seed = reset(u);
    reference teleport ``(1-d)*N*reset(u)``; textbook teleport
    ``(1-d)*reset(u)`` with dangling mass times reset(u).
    """
    d = damping
    parts = [
        f"WITH links AS ({edges_sql}),",
        "deg AS (SELECT src, sum(w) AS d FROM links GROUP BY src "
        "HAVING sum(w) <> 0),",
        # vertex set from the FILTERED degree table: a source whose
        # weights sum to 0 scatters nothing and leaves the default
        # vertex set — exactly the operator's links-derived vertices
        "pages AS (SELECT src AS url FROM deg),",
        "nn AS (SELECT count(*) AS n FROM pages),",
    ]
    if reset_sql is not None:
        # mirror of the operator's reset_clean aggregation
        # (graph.pagerank): duplicate urls in the caller's reset vector
        # sum their teleport mass instead of duplicating vertex rows
        parts.append(
            f"rv AS (SELECT p.url, coalesce(rs.reset, 0) AS reset "
            f"FROM pages p LEFT JOIN (SELECT url, sum(reset) AS reset "
            f"FROM ({reset_sql}) GROUP BY url) rs ON p.url = rs.url),"
        )
        parts.append("r0 AS (SELECT url, reset AS rank FROM rv),")
        vert, vcols = "rv", "p.reset"
    else:
        parts.append(
            "r0 AS (SELECT url, 1.0 / (SELECT n FROM nn) AS rank FROM pages),"
        )
        vert, vcols = "pages", None
    contrib = (
        "SELECT l.dst AS url, sum(r.rank * l.w / d2.d) AS c "
        "FROM links l JOIN r{prev} r ON l.src = r.url "
        "JOIN deg d2 ON l.src = d2.src GROUP BY l.dst"
    )
    for i in range(1, n_iters + 1):
        sub = contrib.format(prev=i - 1)
        if mode == "reference":
            const = (
                f"{1.0 - d} * (SELECT n FROM nn) * {vcols}"
                if reset_sql is not None
                else f"{1.0 - d}"
            )
            parts.append(
                f"r{i} AS MATERIALIZED (SELECT p.url, {const} + {d} * "
                f"coalesce(s.c, 0) AS rank FROM {vert} p LEFT JOIN ({sub}) s "
                "ON p.url = s.url),"
            )
        else:  # textbook
            parts.append(
                f"dm{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{i - 1} r "
                "WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r.url)),"
            )
            if reset_sql is not None:
                expr = (
                    f"{1.0 - d} * p.reset + {d} * (coalesce(s.c, 0) + "
                    f"(SELECT dm FROM dm{i}) * p.reset)"
                )
            else:
                expr = (
                    f"{1.0 - d} / (SELECT n FROM nn) + {d} * (coalesce(s.c, 0) + "
                    f"(SELECT dm FROM dm{i}) / (SELECT n FROM nn))"
                )
            parts.append(
                f"r{i} AS MATERIALIZED (SELECT p.url, {expr} AS rank "
                f"FROM {vert} p LEFT JOIN ({sub}) s ON p.url = s.url),"
            )
    final = f"SELECT url, round(rank, {round_digits}) AS rank FROM r{n_iters}"
    if limit is not None:
        final += f" ORDER BY rank DESC, url ASC LIMIT {limit}"
    sql = "\n".join(parts).rstrip(",")
    return sql + "\n" + final


# --- dedup / similarity oracles (extensions) --------------------------------

#: distinct word-level shingles per doc (n=1), mirror of dedup.shingles
SHINGLES_1 = (
    "sh AS (SELECT DISTINCT doc_id, w AS shingle FROM (SELECT doc_id, "
    "unnest(regexp_split_to_array(text, '[[:space:]]+')) AS w FROM documents) WHERE w <> '')"
)


def exact_dedup_sql() -> str:
    return (
        "SELECT doc_id, fingerprint, "
        "min(doc_id) OVER (PARTITION BY fingerprint) AS keeper, "
        "CAST(doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS INT) AS is_dup "
        "FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '[[:space:]]+', ' ', 'g'), ' '))) "
        "AS fingerprint FROM documents)"
    )


def _shingles_ngram(n: int) -> str:
    if n == 1:
        return SHINGLES_1
    return (
        "arr AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[[:space:]]+'), "
        "w -> w <> '') AS a FROM documents), "
        "sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, "
        f"unnest(CASE WHEN len(a) >= {n} THEN list_transform(range(1, len(a) - {n} + 2), "
        f"i -> array_to_string(a[i:i+{n - 1}], ' ')) ELSE [] END) AS shingle FROM arr))"
    )


def _jaccard_tail(threshold: float, sh: str = "sh") -> str:
    return (
        f"sz AS (SELECT doc_id, count(*) AS n FROM {sh} GROUP BY doc_id), "
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i FROM cand c "
        f"JOIN {sh} p ON p.doc_id = c.doc_a "
        f"JOIN {sh} q ON q.doc_id = c.doc_b AND q.shingle = p.shingle "
        "GROUP BY c.doc_a, c.doc_b) "
        "SELECT t.doc_a, t.doc_b, round(CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i), 6) "
        "AS jaccard FROM inter t "
        "JOIN sz sa ON sa.doc_id = t.doc_a JOIN sz sb ON sb.doc_id = t.doc_b "
        f"WHERE round(CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i), 6) >= {threshold}"
    )


def minhash_near_dups_sql(
    threshold: float = 0.5, num_hashes: int = 16, bands: int = 4, ngram: int = 1
) -> str:
    # identical universal-hash construction (and constants) as
    # operators/dedup.minhash_signatures — same md5 base, same (a, b)
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        MINHASH_P,
        _minhash_coeffs,
    )

    r = num_hashes // bands
    mins = ", ".join(
        f"min(({a}::BIGINT * hb + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    )
    sep = " || ',' || "
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"{sep.join(f'CAST(h{b * r + j} AS VARCHAR)' for j in range(r))} "
        "AS bucket FROM mh"
        for b in range(bands)
    )
    return (
        f"WITH {_shingles_ngram(ngram)}, "
        "hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))"
        f"::UBIGINT::BIGINT % {MINHASH_P} AS hb FROM sh), "
        f"mh AS (SELECT doc_id, {mins} FROM hb GROUP BY doc_id), "
        f"bk AS ({band_rows}), "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bk x "
        "JOIN bk y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id), "
        + _jaccard_tail(threshold)
    )


def normalize_text_sql(source: str = "documents") -> str:
    """Mirror of ``textstats.normalize_text`` (NFC defaults) over
    ``source``: ``nfc_normalize`` + the same RE2 replaces — strip
    C0-except-tab/newline/CR + DEL + zero-width set, collapse
    non-newline whitespace runs, drop spaces around newlines, trim.
    Both engines use the ASCII whitespace set (oracle side spelled
    ``[[:space:]]`` — RE2's ``\\s`` drops U+000B, Java's keeps it; the
    POSIX class matches Java exactly), so NBSP-style Unicode
    whitespace is (deliberately) NOT collapsed on either side."""
    strip = (
        r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F"
        r"\x{200B}\x{200C}\x{200D}\x{FEFF}]"
    )
    return (
        f"WITH n AS (SELECT doc_id, text, nfc_normalize(text) AS t "
        f"FROM {source}), "
        "c AS (SELECT doc_id, text, trim(regexp_replace(regexp_replace("
        f"regexp_replace(t, '{strip}', '', 'g'), "
        r"'[^\S\n]+', ' ', 'g'), ' *\n *', chr(10), 'g'), ' ') "
        "AS clean_text FROM n) "
        "SELECT doc_id, clean_text, "
        "CAST(clean_text <> text AS INT) AS changed FROM c"
    )


def fuzzy_contamination_sql(
    train_where: str,
    bench_where: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 5,
) -> str:
    """Mirror of ``contamination.fuzzy_contamination`` over two
    WHERE-split views of ``documents`` (the ``incremental_minhash_sql``
    pattern): per-split universal-hash signatures, cross band-bucket
    candidates, exact cross-corpus shingle Jaccard >= threshold."""
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        MINHASH_P,
        _minhash_coeffs,
    )

    r = num_hashes // bands
    mins = ", ".join(
        f"min(({a}::BIGINT * hb + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    )
    sep = " || ',' || "

    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"{sep.join(f'CAST(h{b * r + j} AS VARCHAR)' for j in range(r))} "
            f"AS bucket FROM {src}"
            for b in range(bands)
        )

    return (
        f"WITH {_shingles_ngram(ngram)}, "
        "hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))"
        f"::UBIGINT::BIGINT % {MINHASH_P} AS hb FROM sh), "
        f"mht AS (SELECT doc_id, {mins} FROM hb WHERE {train_where} "
        "GROUP BY doc_id), "
        f"mhe AS (SELECT doc_id, {mins} FROM hb WHERE {bench_where} "
        "GROUP BY doc_id), "
        f"bkt AS ({band_rows('mht')}), "
        f"bke AS ({band_rows('mhe')}), "
        "cand AS (SELECT DISTINCT t.doc_id, e.doc_id AS bench_id FROM bkt t "
        "JOIN bke e ON t.band = e.band AND t.bucket = e.bucket), "
        f"szt AS (SELECT doc_id, count(*) AS n FROM sh WHERE {train_where} "
        "GROUP BY doc_id), "
        f"sze AS (SELECT doc_id, count(*) AS n FROM sh WHERE {bench_where} "
        "GROUP BY doc_id), "
        "inter AS (SELECT c.doc_id, c.bench_id, count(*) AS i FROM cand c "
        "JOIN sh p ON p.doc_id = c.doc_id "
        "JOIN sh q ON q.doc_id = c.bench_id AND q.shingle = p.shingle "
        "GROUP BY c.doc_id, c.bench_id) "
        "SELECT t.doc_id, t.bench_id, "
        "round(CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i), 6) AS jaccard "
        "FROM inter t JOIN szt sa ON sa.doc_id = t.doc_id "
        "JOIN sze sb ON sb.doc_id = t.bench_id "
        "WHERE round(CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i), 6) "
        f">= {threshold}"
    )


def _df_cap_cte(max_shingle_df: int | None) -> str:
    """Rewrites ``sh`` to the df-capped shingle table (mirror of
    dedup.df_capped_shingles): drop shingles in more than
    ``max_shingle_df`` docs BEFORE pairing. Empty string when None."""
    if max_shingle_df is None:
        return ""
    return (
        ", sh_keep AS (SELECT shingle FROM sh GROUP BY shingle "
        f"HAVING count(*) <= {max_shingle_df}), "
        "shc AS (SELECT s.doc_id, s.shingle FROM sh s "
        "JOIN sh_keep k ON s.shingle = k.shingle)"
    )


def incremental_minhash_sql(
    batch_where: str,
    store_where: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 5,
) -> str:
    """Mirror of dedup.incremental_minhash_dedup over two WHERE-split
    views of ``documents``: identical universal-hash signatures per
    split, band-bucket probes (batch vs store, batch vs smaller-id
    batch), and the INTEGER equal-component estimate against
    ceil(threshold * num_hashes) — no float folds anywhere."""
    import math

    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        MINHASH_P,
        _minhash_coeffs,
    )

    min_matches = math.ceil(num_hashes * threshold)
    r = num_hashes // bands
    mins = ", ".join(
        f"min(({a}::BIGINT * hb + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    )
    sep = " || ',' || "

    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"{sep.join(f'CAST(h{b * r + j} AS VARCHAR)' for j in range(r))} "
            f"AS bucket FROM {src}"
            for b in range(bands)
        )

    n_eq = " + ".join(
        f"(CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return (
        f"WITH {_shingles_ngram(ngram)}, "
        "hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))"
        f"::UBIGINT::BIGINT % {MINHASH_P} AS hb FROM sh), "
        f"mhb AS (SELECT doc_id, {mins} FROM hb WHERE {batch_where} GROUP BY doc_id), "
        f"mhs AS (SELECT doc_id, {mins} FROM hb WHERE {store_where} GROUP BY doc_id), "
        f"bkb AS ({band_rows('mhb')}), "
        f"bks AS ({band_rows('mhs')}), "
        "cs AS (SELECT DISTINCT b.doc_id, s.doc_id AS store_id FROM bkb b "
        "JOIN bks s ON b.band = s.band AND b.bucket = s.bucket), "
        "cb AS (SELECT DISTINCT b.doc_id, s.doc_id AS store_id FROM bkb b "
        "JOIN bkb s ON b.band = s.band AND b.bucket = s.bucket "
        "AND s.doc_id < b.doc_id), "
        "ds AS (SELECT DISTINCT c.doc_id FROM cs c "
        "JOIN mhb x ON x.doc_id = c.doc_id "
        f"JOIN mhs y ON y.doc_id = c.store_id WHERE {n_eq} >= {min_matches}), "
        "db AS (SELECT DISTINCT c.doc_id FROM cb c "
        "JOIN mhb x ON x.doc_id = c.doc_id "
        f"JOIN mhb y ON y.doc_id = c.store_id WHERE {n_eq} >= {min_matches}) "
        "SELECT m.doc_id, "
        "CAST(CASE WHEN ds.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS dup_of_store, "
        "CAST(CASE WHEN db.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS dup_of_batch, "
        "CAST(CASE WHEN ds.doc_id IS NULL AND db.doc_id IS NULL THEN 1 ELSE 0 END "
        "AS INT) AS keep "
        "FROM mhb m LEFT JOIN ds ON m.doc_id = ds.doc_id "
        "LEFT JOIN db ON m.doc_id = db.doc_id"
    )


def streaming_minhash_probe_sql(
    batch_where: str,
    store_where: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 5,
) -> str:
    """Mirror of streaming.streaming_minhash_probe over two WHERE-split
    views of ``documents``: the stream side's per-row signatures equal
    the shuffle-path signatures (min is duplicate-insensitive), so this
    reuses incremental_minhash_sql's signature CTEs and keeps only the
    dup-of-store verdict — one row per stream doc that clears the
    equal-component estimate, with the smallest matching store doc."""
    import math

    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        MINHASH_P,
        _minhash_coeffs,
    )

    min_matches = math.ceil(num_hashes * threshold)
    r = num_hashes // bands
    mins = ", ".join(
        f"min(({a}::BIGINT * hb + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    )
    sep = " || ',' || "

    def band_rows(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"{sep.join(f'CAST(h{b * r + j} AS VARCHAR)' for j in range(r))} "
            f"AS bucket FROM {src}"
            for b in range(bands)
        )

    n_eq = " + ".join(
        f"(CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END)" for i in range(num_hashes)
    )
    return (
        f"WITH {_shingles_ngram(ngram)}, "
        "hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))"
        f"::UBIGINT::BIGINT % {MINHASH_P} AS hb FROM sh), "
        f"mhb AS (SELECT doc_id, {mins} FROM hb WHERE {batch_where} GROUP BY doc_id), "
        f"mhs AS (SELECT doc_id, {mins} FROM hb WHERE {store_where} GROUP BY doc_id), "
        f"bkb AS ({band_rows('mhb')}), "
        f"bks AS ({band_rows('mhs')}), "
        "cs AS (SELECT DISTINCT b.doc_id, s.doc_id AS store_id FROM bkb b "
        "JOIN bks s ON b.band = s.band AND b.bucket = s.bucket) "
        "SELECT c.doc_id, min(c.store_id) AS dup_store_id FROM cs c "
        "JOIN mhb x ON x.doc_id = c.doc_id "
        f"JOIN mhs y ON y.doc_id = c.store_id WHERE {n_eq} >= {min_matches} "
        "GROUP BY c.doc_id"
    )


def ngram_jaccard_sql(
    threshold: float, ngram: int = 3, max_shingle_df: int | None = None
) -> str:
    cap = _df_cap_cte(max_shingle_df)
    sh = "shc" if max_shingle_df is not None else "sh"
    return (
        f"WITH {_shingles_ngram(ngram)}{cap}, "
        f"cand AS (SELECT DISTINCT p.doc_id AS doc_a, q.doc_id AS doc_b FROM {sh} p "
        f"JOIN {sh} q ON p.shingle = q.shingle AND p.doc_id < q.doc_id), "
        + _jaccard_tail(threshold, sh)
    )


def ngram_containment_sql(
    threshold: float, ngram: int = 3, max_shingle_df: int | None = None
) -> str:
    """Mirror of dedup.ngram_containment_pairs: |A∩B| / min(|A|, |B|),
    over df-capped shingle sets when ``max_shingle_df`` is given."""
    cap = _df_cap_cte(max_shingle_df)
    sh = "shc" if max_shingle_df is not None else "sh"
    return (
        f"WITH {_shingles_ngram(ngram)}{cap}, "
        f"inter AS (SELECT p.doc_id AS doc_a, q.doc_id AS doc_b, count(*) AS i "
        f"FROM {sh} p JOIN {sh} q ON p.shingle = q.shingle AND p.doc_id < q.doc_id "
        "GROUP BY p.doc_id, q.doc_id), "
        f"sz AS (SELECT doc_id, count(*) AS n FROM {sh} GROUP BY doc_id) "
        "SELECT t.doc_a, t.doc_b, "
        "round(CAST(t.i AS DOUBLE) / least(sa.n, sb.n), 6) AS containment "
        "FROM inter t JOIN sz sa ON sa.doc_id = t.doc_a "
        "JOIN sz sb ON sb.doc_id = t.doc_b "
        f"WHERE round(CAST(t.i AS DOUBLE) / least(sa.n, sb.n), 6) >= {threshold}"
    )


SIMHASH_SQL = (
    "tok AS (SELECT doc_id, w AS word FROM (SELECT doc_id, "
    "unnest(regexp_split_to_array(text, '[[:space:]]+')) AS w FROM documents) WHERE w <> ''), "
    "cnt AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word), "
    "hashed AS (SELECT doc_id, c, "
    "CAST(('0x' || substr(md5(word), 1, 15)) AS UBIGINT)::BIGINT AS h FROM cnt), "
    "votes AS (SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN c ELSE -c END AS vote "
    "FROM hashed, unnest(range(0, 60)) AS t(b)), "
    "bitsum AS (SELECT doc_id, b, sum(vote) AS v FROM votes GROUP BY doc_id, b), "
    "fp AS (SELECT doc_id, sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) ELSE 0 END) "
    "AS simhash FROM bitsum GROUP BY doc_id)"
)


def simhash_near_dups_sql(max_hamming: int = 3, chunks: int = 4) -> str:
    bits_per = 60 // chunks
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk, "
        f"(simhash >> {c * bits_per}) & {(1 << bits_per) - 1} AS key FROM fp"
        for c in range(chunks)
    )
    return (
        f"WITH {SIMHASH_SQL}, "
        f"bk AS ({chunk_rows}), "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS sim_a, "
        "y.doc_id AS doc_b, y.simhash AS sim_b FROM bk x "
        "JOIN bk y ON x.chunk = y.chunk AND x.key = y.key AND x.doc_id < y.doc_id) "
        "SELECT doc_a, doc_b, "
        "CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming FROM cand "
        f"WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}"
    )


# dot product / norm over a FLOAT[] column, double accumulation,
# sequential fold — mirror of similarity._dot/_norm
def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )


def cosine_topk_sql(query_vec_id: int = 0, k: int = 10) -> str:
    dot = _dot_sql("e.embedding", "q.embedding")
    return (
        f"WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {query_vec_id}) "
        f"SELECT e.vec_id, round({dot} / ({_norm_sql('e.embedding')} * "
        f"{_norm_sql('q.embedding')}), 6) AS cos "
        f"FROM embeddings e, q WHERE e.vec_id <> {query_vec_id} "
        f"ORDER BY cos DESC, e.vec_id ASC LIMIT {k}"
    )


def _plane_bit_sql(p: int, weight: int) -> str:
    """CASE expr: ``weight`` iff v·plane_p >= 0 — plane p component for
    0-based dim d is +1 iff low bit of the first md5 hex digit of
    'p:d', mirror of similarity._plane_sign/_plane_dot."""
    return (
        f"(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), "
        f"d -> CAST(embedding[d] AS DOUBLE) * "
        f"(CASE WHEN ('0x' || substr(md5('{p}:' || CAST(d - 1 AS VARCHAR)), 1, 1))::INT "
        f"& 1 = 1 THEN 1.0 ELSE -1.0 END))) >= 0 THEN {weight} ELSE 0 END)"
    )


def cosine_pairs_lsh_sql(threshold: float, num_planes: int = 8, bands: int = 2) -> str:
    """Mirror of similarity.cosine_pairs_lsh: banded OR-of-ANDs
    hyperplane buckets (band b key = integer of planes b*r..b*r+r-1's
    sign bits), distinct candidate pairs, then exact cosine."""
    r = num_planes // bands
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        + " + ".join(_plane_bit_sql(b * r + j, 1 << j) for j in range(r))
        + " AS key FROM embeddings"
        for b in range(bands)
    )
    return (
        f"WITH bk AS ({band_rows}), "
        "cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b FROM bk x "
        "JOIN bk y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id), "
        f"base AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm "
        "FROM embeddings), "
        "pairs AS (SELECT c.vec_a, c.vec_b, a.embedding AS va, b.embedding AS vb, "
        "a.nrm AS na, b.nrm AS nb FROM cand c "
        "JOIN base a ON c.vec_a = a.vec_id JOIN base b ON c.vec_b = b.vec_id) "
        f"SELECT vec_a, vec_b, round({_dot_sql('va', 'vb')} / (na * nb), 6) AS cos "
        f"FROM pairs WHERE round({_dot_sql('va', 'vb')} / (na * nb), 6) >= {threshold}"
    )


def cosine_matches_ab_sql(
    a_where: str,
    b_where: str,
    threshold: float,
    num_planes: int = 8,
    bands: int = 2,
) -> str:
    """Mirror of similarity.cosine_matches_ab over two WHERE-filtered
    views of the embeddings table (same deterministic hyperplanes on
    both sides; no a<b filter — id spaces are unrelated)."""
    r = num_planes // bands

    def band_rows(where: str) -> str:
        return " UNION ALL ".join(
            f"SELECT vec_id, {b} AS band, "
            + " + ".join(_plane_bit_sql(b * r + j, 1 << j) for j in range(r))
            + f" AS key FROM embeddings WHERE {where}"
            for b in range(bands)
        )

    return (
        f"WITH bka AS ({band_rows(a_where)}), bkb AS ({band_rows(b_where)}), "
        "cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b FROM bka x "
        "JOIN bkb y ON x.band = y.band AND x.key = y.key), "
        f"basea AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm "
        f"FROM embeddings WHERE {a_where}), "
        f"baseb AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm "
        f"FROM embeddings WHERE {b_where}), "
        "pairs AS (SELECT c.id_a, c.id_b, a.embedding AS va, b.embedding AS vb, "
        "a.nrm AS na, b.nrm AS nb FROM cand c "
        "JOIN basea a ON c.id_a = a.vec_id JOIN baseb b ON c.id_b = b.vec_id) "
        f"SELECT id_a, id_b, round({_dot_sql('va', 'vb')} / (na * nb), 6) AS cos "
        f"FROM pairs WHERE round({_dot_sql('va', 'vb')} / (na * nb), 6) >= {threshold}"
    )


def incremental_embedding_dedup_sql(
    seen_where: str,
    new_where: str,
    threshold: float = 0.25,
    num_planes: int = 8,
    bands: int = 2,
) -> str:
    """Mirror of dedup.incremental_embedding_dedup over two
    WHERE-filtered views of the embeddings table: the store probe is
    cosine_matches_ab_sql(seen, new); the in-batch pass reuses the
    SAME cross-table builder on (new, new) with an ``id_a < id_b``
    post-filter (identical candidates + verify to cosine_pairs_lsh's
    deduped self-join); flags and keep replay the integer contract."""
    store = cosine_matches_ab_sql(
        seen_where, new_where, threshold, num_planes, bands
    )
    batch = cosine_matches_ab_sql(
        new_where, new_where, threshold, num_planes, bands
    )
    return (
        f"WITH sm AS ({store}), bm AS ({batch}), "
        "ds AS (SELECT DISTINCT id_b AS vec_id FROM sm), "
        "db AS (SELECT DISTINCT id_b AS vec_id FROM bm WHERE id_a < id_b), "
        f"base AS (SELECT vec_id FROM embeddings WHERE {new_where}) "
        "SELECT base.vec_id, "
        "CAST(CASE WHEN ds.vec_id IS NULL THEN 0 ELSE 1 END AS INT) "
        "AS dup_of_store, "
        "CAST(CASE WHEN db.vec_id IS NULL THEN 0 ELSE 1 END AS INT) "
        "AS dup_of_batch, "
        "CAST(CASE WHEN ds.vec_id IS NULL AND db.vec_id IS NULL "
        "THEN 1 ELSE 0 END AS INT) AS keep "
        "FROM base LEFT JOIN ds ON base.vec_id = ds.vec_id "
        "LEFT JOIN db ON base.vec_id = db.vec_id"
    )


def textbook_pagerank_sql(
    edges_sql: str = EDGES_SQL,
    n_iters: int = 10,
    damping: float = 0.85,
    round_digits: int = 6,
    limit: int | None = None,
) -> str:
    """Unrolled TEXTBOOK PageRank (normalized, dangling-mass
    redistribution — operators/graph.py mode='textbook'):
    rank' = (1-d)/N + d*(contrib + dangling_mass/N)."""
    d = damping
    parts = [
        f"WITH links AS ({edges_sql}),",
        "pages AS (SELECT DISTINCT src AS url FROM links),",
        "deg AS (SELECT src, count(*) AS dg FROM links GROUP BY src),",
        "nn AS (SELECT count(*) AS n FROM pages),",
        "r0 AS (SELECT url, 1.0 / (SELECT n FROM nn) AS rank FROM pages),",
    ]
    for i in range(1, n_iters + 1):
        # r{i-1} is referenced twice (dangling mass + contributions):
        # MATERIALIZED stops DuckDB's CTE inlining from going exponential
        parts.append(
            f"dm{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM r{i - 1} r "
            "WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r.url)),"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT p.url, ({1.0 - d}) / (SELECT n FROM nn) + {d} * "
            f"(coalesce(s.c, 0) + (SELECT dm FROM dm{i}) / (SELECT n FROM nn)) AS rank "
            "FROM pages p LEFT JOIN ("
            "SELECT l.dst AS url, sum(r.rank / d2.dg) AS c "
            f"FROM links l JOIN r{i - 1} r ON l.src = r.url "
            "JOIN deg d2 ON l.src = d2.src GROUP BY l.dst) s ON p.url = s.url),"
        )
    final = f"SELECT url, round(rank, {round_digits}) AS rank FROM r{n_iters}"
    if limit is not None:
        final += f" ORDER BY rank DESC, url ASC LIMIT {limit}"
    sql = "\n".join(parts).rstrip(",")
    return sql + "\n" + final


def ivf_topk_sql(
    query_vec_id: int = 0, k: int = 10, n_cells: int = 16, n_probe: int = 4
) -> str:
    """Mirror of similarity.ivf_topk: first-n centroids, argmax-cosine
    assignment with deterministic ties, probe n nearest cells, exact
    cosine within probed cells."""
    dq = _dot_sql("a.vec", "q.qvec")
    nq = _norm_sql("a.vec")
    return (
        "WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, "
        f"embedding AS cvec FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_cells})), "
        f"q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {query_vec_id}), "
        "scored AS (SELECT e.vec_id, e.embedding AS vec, c.cell_id, "
        f"{_dot_sql('e.embedding', 'c.cvec')} / ({_norm_sql('e.embedding')} * "
        f"{_norm_sql('c.cvec')}) AS ccos FROM embeddings e CROSS JOIN cents c), "
        "assign AS (SELECT vec_id, vec, cell_id FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn FROM scored) "
        "WHERE rn = 1), "
        "probe AS (SELECT cell_id FROM cents c, q ORDER BY "
        f"{_dot_sql('c.cvec', 'q.qvec')} / ({_norm_sql('c.cvec')} * {_norm_sql('q.qvec')}) "
        f"DESC, c.cell_id ASC LIMIT {n_probe}) "
        f"SELECT a.vec_id, round({dq} / ({nq} * {_norm_sql('q.qvec')}), 6) AS cos "
        "FROM assign a JOIN probe p ON a.cell_id = p.cell_id, q "
        f"WHERE a.vec_id <> {query_vec_id} "
        f"ORDER BY cos DESC, a.vec_id ASC LIMIT {k}"
    )


def ivf_topk_batch_sql(
    query_vec_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> str:
    """Batch mirror of similarity.ivf_topk_batch: per-query probe cells
    via row_number over the tiny query × centroid cross, per-query
    top-k over the probed cells (ordered by the ROUNDED cosine, same as
    the operator's window)."""
    ids = ", ".join(str(i) for i in query_vec_ids)
    return (
        "WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, "
        f"embedding AS cvec FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_cells})), "
        f"q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings "
        f"WHERE vec_id IN ({ids})), "
        "scored AS (SELECT e.vec_id, e.embedding AS vec, c.cell_id, "
        f"{_dot_sql('e.embedding', 'c.cvec')} / ({_norm_sql('e.embedding')} * "
        f"{_norm_sql('c.cvec')}) AS ccos FROM embeddings e CROSS JOIN cents c), "
        "assign AS (SELECT vec_id, vec, cell_id FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn FROM scored) "
        "WHERE rn = 1), "
        "probe AS (SELECT query_id, cell_id, qvec FROM (SELECT q.query_id, "
        "c.cell_id, q.qvec, row_number() OVER (PARTITION BY q.query_id ORDER BY "
        f"{_dot_sql('c.cvec', 'q.qvec')} / ({_norm_sql('c.cvec')} * "
        f"{_norm_sql('q.qvec')}) DESC, c.cell_id ASC) AS prn "
        f"FROM cents c CROSS JOIN q) WHERE prn <= {n_probe}) "
        "SELECT query_id, vec_id, cos FROM (SELECT query_id, vec_id, cos, "
        "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) "
        "AS rn FROM (SELECT p.query_id, a.vec_id, "
        f"round({_dot_sql('a.vec', 'p.qvec')} / ({_norm_sql('a.vec')} * "
        f"{_norm_sql('p.qvec')}), 6) AS cos "
        "FROM assign a JOIN probe p ON a.cell_id = p.cell_id "
        f"WHERE a.vec_id <> p.query_id)) WHERE rn <= {k}"
    )


def ann_recall_sql(
    query_vec_ids: list[int],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
) -> str:
    """Mirror of ``similarity.ann_recall_report``: the ivf_topk_batch
    result set intersected with the brute-force rounded-cosine top-k
    (identical strict ranking), aggregated to per-query recall. The
    batch SQL nests as a WITH-in-CTE (DuckDB supports nested WITH)."""
    ids = ", ".join(str(i) for i in query_vec_ids)
    ann = ivf_topk_batch_sql(query_vec_ids, k, n_cells, n_probe)
    return (
        f"WITH ann AS ({ann}), "
        f"q AS (SELECT vec_id AS query_id, embedding AS qvec "
        f"FROM embeddings WHERE vec_id IN ({ids})), "
        "sc AS (SELECT q.query_id, e.vec_id, "
        f"round({_dot_sql('e.embedding', 'q.qvec')} / "
        f"({_norm_sql('e.embedding')} * {_norm_sql('q.qvec')}), 6) AS cos "
        "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id), "
        "truth AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id, "
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, vec_id ASC) AS rn FROM sc) "
        f"WHERE rn <= {int(k)}), "
        "j AS (SELECT t.query_id, "
        "CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit "
        "FROM truth t LEFT JOIN ann a "
        "ON t.query_id = a.query_id AND t.vec_id = a.vec_id) "
        "SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth, "
        "CAST(sum(hit) AS BIGINT) AS hits, "
        "round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS recall "
        "FROM j GROUP BY query_id"
    )


def token_budget_mix_sql(budgets: "dict[str, int]") -> str:
    """Mirror of ``sampling.token_budget_mix`` over ``documents``
    scored by ``n_chars``: integer running token sums per source in
    (n_chars DESC, doc_id ASC) order, keep while the sum BEFORE the
    row is under the source's budget."""
    vals = ", ".join(f"('{s}', {int(b)})" for s, b in sorted(budgets.items()))
    return (
        "WITH t AS (SELECT doc_id, source, n_chars, CAST(len(list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) AS BIGINT) AS nt "
        "FROM documents), "
        "c AS (SELECT doc_id, source, nt, coalesce(sum(nt) OVER "
        "(PARTITION BY source ORDER BY n_chars DESC, doc_id ASC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM t), "
        f"b(source, budget) AS (VALUES {vals}) "
        "SELECT c.doc_id, c.source, nt AS n_tokens FROM c "
        "JOIN b ON c.source = b.source WHERE cb < budget"
    )


def ivf_topk_lloyd_sql(
    query_vec_id: int = 0,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    n_iters: int = 2,
    dims: int = 64,
) -> str:
    """Mirror of similarity.lloyd_centroids(exact_mean=True) feeding
    similarity.ivf_topk: the full production-recall IVF path under the
    hash gate. Each Lloyd iteration is unrolled: argmax-cosine
    assignment (ties to the lowest cell), then the BIT-DETERMINISTIC
    per-cell mean — ``list_reduce`` over ``list(vec ORDER BY vec_id)``
    is the same sequential left fold the operator's exact_mean mode
    runs — with empty cells keeping their previous centroid via the
    LEFT JOIN coalesce. ``dims`` must match the embedding width of the
    table under test (the operator infers it; SQL cannot)."""
    parts = [
        "WITH seed AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, "
        "CAST(embedding AS DOUBLE[]) AS cvec FROM "
        f"(SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_cells})), "
        "base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, "
        f"{_norm_sql('embedding')} AS vnorm FROM embeddings), "
    ]
    prev = "seed"
    for t in range(n_iters):
        parts.append(
            f"sc{t} AS (SELECT b.vec_id, b.vec, b.vnorm, c.cell_id, "
            f"{_dot_sql('b.vec', 'c.cvec')} / (b.vnorm * {_norm_sql('c.cvec')}) "
            f"AS ccos FROM base b CROSS JOIN {prev} c), "
            f"as{t} AS (SELECT vec_id, vec, cell_id FROM (SELECT *, row_number() "
            f"OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn "
            f"FROM sc{t}) WHERE rn = 1), "
            f"mean{t} AS (SELECT cell_id, list_transform(range(1, {dims + 1}), "
            "d -> list_reduce(list_transform(ms, m -> m[d]), (a, b) -> a + b) "
            "/ len(ms)) AS mvec FROM (SELECT cell_id, "
            f"list(vec ORDER BY vec_id) AS ms FROM as{t} GROUP BY cell_id)), "
            f"cents{t + 1} AS (SELECT p.cell_id, coalesce(m.mvec, p.cvec) AS cvec "
            f"FROM {prev} p LEFT JOIN mean{t} m ON p.cell_id = m.cell_id), "
        )
        prev = f"cents{t + 1}"
    parts.append(
        "scored AS (SELECT b.vec_id, b.vec, b.vnorm, c.cell_id, "
        f"{_dot_sql('b.vec', 'c.cvec')} / (b.vnorm * {_norm_sql('c.cvec')}) "
        f"AS ccos FROM base b CROSS JOIN {prev} c), "
        "assign AS (SELECT vec_id, vec, cell_id FROM (SELECT *, row_number() "
        "OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn "
        "FROM scored) WHERE rn = 1), "
        "q AS (SELECT embedding AS qvec, "
        f"{_norm_sql('embedding')} AS qnorm FROM embeddings "
        f"WHERE vec_id = {query_vec_id}), "
        f"probe AS (SELECT cell_id FROM {prev} c, q ORDER BY "
        f"{_dot_sql('c.cvec', 'q.qvec')} / ({_norm_sql('c.cvec')} * q.qnorm) "
        f"DESC, c.cell_id ASC LIMIT {n_probe}) "
        f"SELECT a.vec_id, round({_dot_sql('a.vec', 'q.qvec')} / "
        f"({_norm_sql('a.vec')} * q.qnorm), 6) AS cos "
        "FROM assign a JOIN probe p ON a.cell_id = p.cell_id, q "
        f"WHERE a.vec_id <> {query_vec_id} "
        f"ORDER BY cos DESC, a.vec_id ASC LIMIT {k}"
    )
    return "".join(parts)


def embedding_dedup_sql(
    threshold: float = 0.25, num_planes: int = 8, bands: int = 2
) -> str:
    """Survivors of the embedding-cosine near-dup pass: documents whose
    vec has no cosine >= threshold pair with a smaller id (mirror of
    dedup.embedding_near_dup_survivors over the same banded LSH
    buckets)."""
    pairs = cosine_pairs_lsh_sql(threshold, num_planes, bands)
    return (
        f"WITH dropped AS (SELECT DISTINCT vec_b AS doc_id FROM ({pairs})) "
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d "
        "LEFT JOIN dropped x ON d.doc_id = x.doc_id WHERE x.doc_id IS NULL"
    )


def contamination_sql(
    ngram: int = 5, threshold: float = 0.01, bench_mod: int = 20
) -> str:
    """Mirror of contamination.contamination_check with the benchmark
    set = docs where doc_id % bench_mod == 0 (the deterministic
    train/bench split the query uses)."""
    return (
        f"WITH {_shingles_ngram(ngram)}, "
        f"b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {bench_mod} = 0), "
        f"t AS (SELECT * FROM sh WHERE doc_id % {bench_mod} <> 0), "
        "agg AS (SELECT t.doc_id, count(*) AS n_shingles, "
        "count(b.shingle) AS n_contaminated "
        "FROM t LEFT JOIN b ON t.shingle = b.shingle GROUP BY t.doc_id), "
        f"alld AS (SELECT doc_id FROM documents WHERE doc_id % {bench_mod} <> 0), "
        "j AS (SELECT alld.doc_id, coalesce(n_shingles, 0) AS n_shingles, "
        "coalesce(n_contaminated, 0) AS n_contaminated "
        "FROM alld LEFT JOIN agg ON alld.doc_id = agg.doc_id) "
        "SELECT doc_id, n_shingles, n_contaminated, "
        "round(CASE WHEN n_shingles > 0 THEN "
        "CAST(n_contaminated AS DOUBLE)/n_shingles ELSE 0.0 END, 6) "
        "AS contamination_ratio, "
        "CAST(CASE WHEN n_shingles > 0 AND "
        f"CAST(n_contaminated AS DOUBLE)/n_shingles >= {threshold} "
        "THEN 1 ELSE 0 END AS INT) AS is_contaminated FROM j"
    )


def repetition_ratio_sql(ngram: int = 2) -> str:
    """Mirror of textstats.repetition_ratio (duplicates-kept n-gram
    arrays; list_distinct == Spark array_distinct on string lists)."""
    return (
        "WITH t AS (SELECT doc_id, "
        r"list_filter(regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
        "FROM documents), "
        f"g AS (SELECT doc_id, CASE WHEN len(toks) >= {ngram} THEN "
        f"list_transform(range(1, len(toks) - {ngram} + 2), "
        f"i -> array_to_string(toks[i:i+{ngram - 1}], ' ')) ELSE [] END AS grams "
        "FROM t) "
        "SELECT doc_id, CAST(len(grams) AS INT) AS n_ngrams, "
        "CAST(len(list_distinct(grams)) AS INT) AS n_distinct, "
        "round(CASE WHEN len(grams) > 0 THEN "
        "1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)/len(grams) "
        "ELSE 0.0 END, 6) AS repetition_ratio FROM g"
    )


def asof_clicks_sql() -> str:
    """DuckDB's native ASOF LEFT JOIN as the oracle for the engine's
    union-trick asof_join: for each purchase, the user's latest click
    at-or-before it. The click side is pre-reduced to one row per
    (user_id, ts) — max event_id wins — so the tie rule is explicit
    and engine-independent."""
    return (
        "WITH p AS (SELECT event_id, user_id, ts, value FROM events "
        "WHERE event_type = 'purchase'), "
        "c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_event_id, "
        "arg_max(value, event_id) AS click_value FROM events "
        "WHERE event_type = 'click' GROUP BY user_id, ts) "
        # DuckDB's ASOF JOIN normalizes TIMESTAMP_NS to micro TIMESTAMP;
        # cast back to NS so pandas dtypes match Spark's ns timestamps
        # raw-value-exactly (the instants are micro-grained, so the
        # cast is lossless)
        "SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP_NS) AS ts, "
        "round(p.value, 2) AS purchase_value, "
        "CAST(c.click_ts AS TIMESTAMP_NS) AS click_ts, "
        "c.click_event_id, round(c.click_value, 2) AS click_value "
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts"
    )


def signup_followups_sql(window_hours: int = 1) -> str:
    """Interval/range join oracle: per signup event, count + value sum
    of the same user's events in the following window."""
    return (
        "WITH s AS (SELECT event_id, user_id, ts FROM events "
        "WHERE event_type = 'signup') "
        "SELECT s.event_id, s.user_id, CAST(s.ts AS TIMESTAMP_NS) AS ts, "
        "count(e.ts) AS n_follow, "
        "round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 2) AS follow_value "
        "FROM s LEFT JOIN events e ON e.user_id = s.user_id "
        f"AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL {window_hours} HOUR "
        "GROUP BY s.event_id, s.user_id, s.ts"
    )


def daily_uniques_sql() -> str:
    """Distinct-aggregation surface (absent from the reference,
    SURVEY.md §2.3): per-day unique users + event count."""
    return (
        "SELECT strftime(ts, '%Y-%m-%d') AS day, "
        "count(DISTINCT user_id) AS unique_users, "
        "count(*) AS n_events FROM events GROUP BY strftime(ts, '%Y-%m-%d')"
    )


def _bpe_docpieces_ctes() -> str:
    """Shared CTE prefix replaying the vendored BPE tokenizer in DuckDB
    (used by the doc_chunks_bpe and seq_packing_bpe oracles): the merge
    table embedded as a VALUES list, tokenization as a RECURSIVE CTE
    (one leftmost-lowest-rank merge per step — the same one-at-a-time
    loop the Python encoder runs, equivalent to classic BPE because
    training orders merges before any pair that contains their output).

    The recursion runs over DISTINCT words only (natural-language
    corpora repeat words heavily), then joins pieces back positionally
    and flattens in word order — mirroring the UDF's per-word cache.
    Exposes ``t(doc_id, toks)`` (lowercased whitespace words, so every
    document keeps a row) and ``docpieces(doc_id, toks)`` (per-doc BPE
    piece arrays; docs with zero words have no row — LEFT JOIN from
    ``t`` when empties must survive).
    """
    from pagerank_mapreduce_implementation_spark.functions.bpe import load_merge_ranks

    ranks = load_merge_ranks()
    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    merge_rows = ", ".join(
        f"({rank}, {q(l)}, {q(r)})" for (l, r), rank in sorted(ranks.items(), key=lambda kv: kv[1])
    )
    return (
        "WITH RECURSIVE "
        f"merges(rank, l, r) AS (VALUES {merge_rows}), "
        "t AS (SELECT doc_id, list_filter(list_transform("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> lower(w)), w -> w <> '') AS toks "
        "FROM documents), "
        "words AS (SELECT DISTINCT unnest(toks) AS word FROM t), "
        "init AS (SELECT word, regexp_split_to_array(word, '') AS pieces FROM words), "
        "st AS ("
        "SELECT word, pieces FROM init "
        "UNION ALL "
        "SELECT word, pieces[1:bp-1] || [pieces[bp] || pieces[bp+1]] || pieces[bp+2:] "
        "FROM (SELECT word, pieces, "
        "(SELECT i FROM unnest(range(1, len(pieces))) AS u(i) "
        "JOIN merges m ON m.l = pieces[i] AND m.r = pieces[i+1] "
        "ORDER BY m.rank, i LIMIT 1) AS bp FROM st) WHERE bp IS NOT NULL), "
        "enc AS (SELECT word, arg_min(pieces, len(pieces)) AS pieces "
        "FROM st GROUP BY word), "
        "pos AS (SELECT doc_id, i, toks[i] AS w FROM t, "
        "unnest(range(1, len(toks) + 1)) AS u(i)), "
        "docpieces AS (SELECT p.doc_id, "
        "flatten(list(e.pieces ORDER BY p.i)) AS toks "
        "FROM pos p JOIN enc e ON e.word = p.w GROUP BY p.doc_id)"
    )


def doc_chunks_bpe_sql(window: int, stride: int) -> str:
    """Exact SQL oracle for text.chunk_documents_bpe: the shared BPE
    piece CTEs (``_bpe_docpieces_ctes``) followed by the window/clamp
    arithmetic of the doc_chunks oracle over the per-doc piece arrays.
    """
    return (
        f"{_bpe_docpieces_ctes()}, "
        "c AS (SELECT doc_id, toks, len(toks) AS n FROM docpieces WHERE len(toks) > 0), "
        "e2 AS (SELECT doc_id, toks, CAST(unnest(range(0, "
        f"CAST(least(1 + floor((greatest(n - {window}, 0) + {stride - 1}) / {float(stride)}), "
        f"1 + floor((n - 1) / {float(stride)})) AS BIGINT))) AS INT) "
        "AS chunk_id FROM c) "
        "SELECT doc_id, chunk_id, "
        f"array_to_string(toks[chunk_id*{stride} + 1 : chunk_id*{stride} + {window}], ' ') AS chunk, "
        f"CAST(len(toks[chunk_id*{stride} + 1 : chunk_id*{stride} + {window}]) AS INT) AS n_tokens "
        "FROM e2"
    )


def seq_packing_bpe_sql(budget: int) -> str:
    """Exact SQL oracle for text.pack_sequences(tokenizer='bpe'): BPE
    piece COUNTS per document (shared CTEs; LEFT JOIN keeps zero-word
    docs with n_tokens = 0, matching the UDF's empty piece array), then
    the flat running sum the engine's two-phase distributed prefix sum
    must equal. The window sum is cast back to BIGINT — DuckDB's
    sum(BIGINT) is HUGEINT, which pandas surfaces as float64 and the
    driver hash rejects (the r5 seq_packing lesson)."""
    return (
        f"{_bpe_docpieces_ctes()}, "
        "t2 AS (SELECT t.doc_id, "
        "CAST(coalesce(len(d.toks), 0) AS BIGINT) AS n_tokens "
        "FROM t LEFT JOIN docpieces d ON t.doc_id = d.doc_id), "
        "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER "
        "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens "
        "AS global_start FROM t2) "
        "SELECT doc_id, n_tokens, global_start, "
        f"global_start // {budget} AS bin_id, "
        f"global_start % {budget} AS bin_offset FROM c"
    )


def connected_components_sql(pairs_sql: str, a: str = "doc_a", b: str = "doc_b") -> str:
    """Transitive-closure oracle for graph.connected_components over a
    near-dup pair list: component = min reachable id, via a recursive
    CTE (fine at oracle scale; the engine side is the scalable
    label-propagation loop)."""
    return (
        f"WITH RECURSIVE pr AS ({pairs_sql}), "
        f"e AS (SELECT {a} AS u, {b} AS v FROM pr "
        f"UNION SELECT {b}, {a} FROM pr), "
        "reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM e) "
        "UNION SELECT e.u, r.v FROM e JOIN reach r ON e.v = r.u) "
        "SELECT u AS vertex, min(v) AS component FROM reach GROUP BY u"
    )


def cluster_safe_split_sql(pairs_sql: str, salt: str = "split:") -> str:
    """Mirror of sampling.cluster_safe_split over ``documents``: the
    recursive-CTE transitive closure (connected_components_sql) gives
    each doc its cluster representative (min reachable id, own id for
    singletons), then the EXACT hash_split arithmetic — md5(salt||key)
    15-hex-digit prefix mod 100 into the 90/5/5 named ranges — runs on
    that representative. Same-cluster docs share split_key, hence
    bucket, hence split: the leakage guarantee is structural on both
    engines."""
    s = salt.replace("'", "''")
    return (
        f"WITH cc AS ({connected_components_sql(pairs_sql)}), "
        "k AS (SELECT d.doc_id, "
        "coalesce(cc.component, d.doc_id) AS split_key "
        "FROM documents d LEFT JOIN cc ON cc.vertex = d.doc_id), "
        "bk AS (SELECT doc_id, split_key, "
        f"('0x' || substr(md5('{s}' || CAST(split_key AS VARCHAR)), 1, 15))"
        "::UBIGINT::BIGINT % 100 AS b FROM k) "
        "SELECT doc_id, split_key, CAST(b AS INT) AS bucket, "
        "CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' "
        "ELSE 'test' END AS split FROM bk"
    )


def substring_runs_sql(
    k: int = 8, min_len: int = 12, max_gram_df: int | None = None
) -> str:
    """Mirror of dedup.substring_runs over ``documents``: k-gram md5
    positions -> pair hits -> gaps-and-islands maximal runs. Positions
    are 0-based on both sides (DuckDB's 1-based unnest(range(1, ..))
    index shifts down by one); ``count(*) + k - 1`` turns an island of
    consecutive k-gram hits into its run length in tokens."""
    cap = ""
    g = "g"
    if max_gram_df is not None:
        cap = (
            ", hot AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df "
            f"FROM g GROUP BY gh) WHERE df > {max_gram_df}), "
            "gc AS (SELECT g.* FROM g ANTI JOIN hot USING (gh))"
        )
        g = "gc"
    return (
        "WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
        "'[[:space:]]+'), w -> w <> '') AS toks FROM documents), "
        f"tt AS (SELECT doc_id, toks FROM t WHERE len(toks) >= {k}), "
        "g AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos, "
        f"md5(array_to_string(toks[i : i + {k - 1}], ' ')) AS gh "
        f"FROM tt, unnest(range(1, len(toks) - {k} + 2)) AS u(i))"
        f"{cap}, "
        "hits AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"a.pos AS ia, b.pos AS ib FROM {g} a JOIN {g} b "
        "ON a.gh = b.gh AND a.doc_id < b.doc_id), "
        "isl AS (SELECT doc_a, doc_b, ia - ib AS diag, ia, "
        "ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib "
        "ORDER BY ia) AS grp FROM hits), "
        "runs AS (SELECT doc_a, doc_b, diag, min(ia) AS a_start, "
        f"count(*) + {k} - 1 AS match_len FROM isl "
        "GROUP BY doc_a, doc_b, diag, grp) "
        "SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, "
        f"CAST(match_len AS BIGINT) AS match_len FROM runs "
        f"WHERE match_len >= {min_len}"
    )


def phash_near_dups_sql(max_hamming: int = 10, chunks: int = 4) -> str:
    """Mirror of multimodal.phash_near_dups over the deterministic
    phash_test_image corpus (one image per ``documents`` row): cell
    bytes regenerated from the same md5 formula, average-hash bits
    from the same integer-vs-double-mean compare, then the identical
    15-bit chunk band join + bit_count verify as the SimHash oracle."""
    bits_per = 60 // chunks
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, phash, {c} AS chunk, "
        f"(phash >> {c * bits_per}) & {(1 << bits_per) - 1} AS key FROM fp"
        for c in range(chunks)
    )
    return (
        "WITH cells AS (SELECT doc_id, j, "
        "CASE WHEN j >= 15*(doc_id % 4) AND j < 15*(doc_id % 4) + 4 "
        "THEN 255 - (('0x' || substr(md5(CAST(doc_id // 4 AS VARCHAR) "
        "|| ':' || CAST(j AS VARCHAR)), 1, 2))::INT) "
        "ELSE ('0x' || substr(md5(CAST(doc_id // 4 AS VARCHAR) "
        "|| ':' || CAST(j AS VARCHAR)), 1, 2))::INT END AS v "
        "FROM documents, unnest(range(0, 64)) AS u(j)), "
        "m AS (SELECT doc_id, CAST(sum(v) AS DOUBLE)/64.0 AS mean "
        "FROM cells GROUP BY doc_id), "
        "fp AS (SELECT c.doc_id, sum(CASE WHEN c.j < 60 AND c.v >= m.mean "
        "THEN (1::BIGINT << CAST(c.j AS INT)) ELSE 0 END) AS phash "
        "FROM cells c JOIN m ON c.doc_id = m.doc_id GROUP BY c.doc_id), "
        f"bk AS ({chunk_rows}), "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.phash AS fp_a, "
        "y.doc_id AS doc_b, y.phash AS fp_b FROM bk x "
        "JOIN bk y ON x.chunk = y.chunk AND x.key = y.key AND x.doc_id < y.doc_id) "
        "SELECT doc_a, doc_b, "
        "CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming FROM cand "
        f"WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}"
    )


# cell/fp CTEs shared by the image-hash oracles: the phash_test_image
# md5 gray formula and the ppm_ahash 60-bit average-hash bits, keyed by
# an arbitrary id relation/column (docs for images, frame ids for video)
def _ahash_fp_ctes(ids_sql: str, id_col: str = "doc_id") -> str:
    return (
        f"ids AS ({ids_sql}), "
        f"cells AS (SELECT {id_col}, j, "
        f"CASE WHEN j >= 15*({id_col} % 4) AND j < 15*({id_col} % 4) + 4 "
        f"THEN 255 - (('0x' || substr(md5(CAST({id_col} // 4 AS VARCHAR) "
        "|| ':' || CAST(j AS VARCHAR)), 1, 2))::INT) "
        f"ELSE ('0x' || substr(md5(CAST({id_col} // 4 AS VARCHAR) "
        "|| ':' || CAST(j AS VARCHAR)), 1, 2))::INT END AS v "
        "FROM ids, unnest(range(0, 64)) AS u(j)), "
        f"m AS (SELECT {id_col}, CAST(sum(v) AS DOUBLE)/64.0 AS mean "
        f"FROM cells GROUP BY {id_col}), "
        f"fp AS (SELECT c.{id_col}, sum(CASE WHEN c.j < 60 AND c.v >= m.mean "
        "THEN (1::BIGINT << CAST(c.j AS INT)) ELSE 0 END) AS fphash "
        f"FROM cells c JOIN m ON c.{id_col} = m.{id_col} GROUP BY c.{id_col})"
    )


def _band_pairs_tail(
    rel: str, fp_col: str, max_hamming: int, chunks: int, id_col: str = "doc_id"
) -> str:
    """The hamming_band_pairs mirror over any (id, fingerprint)
    relation: 15-bit chunk buckets -> distinct candidate pairs ->
    bit_count verify. Appended after a WITH chain (starts with ', ')."""
    bits_per = 60 // chunks
    chunk_rows = " UNION ALL ".join(
        f"SELECT {id_col}, {fp_col}, {c} AS chunk, "
        f"({fp_col} >> {c * bits_per}) & {(1 << bits_per) - 1} AS key FROM {rel}"
        for c in range(chunks)
    )
    return (
        f", bk AS ({chunk_rows}), "
        f"cand AS (SELECT DISTINCT x.{id_col} AS doc_a, x.{fp_col} AS fp_a, "
        f"y.{id_col} AS doc_b, y.{fp_col} AS fp_b FROM bk x "
        f"JOIN bk y ON x.chunk = y.chunk AND x.key = y.key "
        f"AND x.{id_col} < y.{id_col}) "
        "SELECT doc_a, doc_b, "
        "CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming FROM cand "
        f"WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}"
    )


def audio_near_dups_sql(
    max_hamming: int = 8, chunks: int = 4, base: int = 256
) -> str:
    """Mirror of multimodal.audio_near_dups over the wav_test_clip
    corpus (one WAV per ``documents`` row): integer samples regenerated
    from the group/gain formula, frame energies as int sums of squares,
    the 60-bit energy-delta fingerprint, then the identical 15-bit
    chunk band join + bit_count verify as every Hamming-family oracle.
    Gain variants of one group scale every energy by (r+1)^2, so their
    fingerprints collide exactly — the invariance the query proves."""
    frames = 61
    return (
        f"WITH d AS (SELECT doc_id, doc_id // 4 AS g, "
        "doc_id % 4 + 1 AS gain FROM documents), "
        f"p AS (SELECT doc_id, g, gain, {base} + g % {base} AS n FROM d), "
        "s AS (SELECT doc_id, n, list_transform(range(0, n), "
        "i -> ((g*31 + i*17) % 256 - 128) * gain) AS sm FROM p), "
        f"e AS (SELECT doc_id, list_transform(range(0, {frames}), "
        f"f -> list_sum(list_transform("
        f"sm[(f*n)//{frames} + 1 : ((f+1)*n)//{frames}], v -> v*v))) AS en "
        "FROM s), "
        "afp AS (SELECT doc_id, list_sum(list_transform(range(0, 60), "
        "j -> CASE WHEN en[j+2] > en[j+1] THEN (1::BIGINT << j) "
        "ELSE 0 END))::BIGINT AS afp FROM e)"
        + _band_pairs_tail("afp", "afp", max_hamming, chunks)
    )


def video_near_dups_sql(min_shared: int = 2, frames_per_doc: int = 3) -> str:
    """Mirror of multimodal.video_near_dups over the synthetic clip
    corpus (one clip per ``documents`` row, frame ids ``doc_id + k`` so
    consecutive docs overlap in frames_per_doc - 1 frames): every
    frame's average hash regenerated from the phash_test_image md5 cell
    formula, then the distinct (doc, fhash) / fhash-equi self-join /
    pair-count plan — physically the ngram_jaccard shape."""
    return (
        "WITH fr0 AS (SELECT doc_id, doc_id + k AS fid "
        f"FROM documents, unnest(range(0, {frames_per_doc})) AS u(k)), "
        + _ahash_fp_ctes("SELECT DISTINCT fid FROM fr0", "fid")
        + ", fh AS (SELECT DISTINCT fr0.doc_id, fp.fphash "
        "FROM fr0 JOIN fp ON fr0.fid = fp.fid) "
        "SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "count(*) AS shared_frames "
        "FROM fh x JOIN fh y ON x.fphash = y.fphash AND x.doc_id < y.doc_id "
        f"GROUP BY 1, 2 HAVING count(*) >= {min_shared}"
    )


def streaming_phash_probe_sql(
    max_hamming: int = 10, chunks: int = 4, stream_mod: int = 3
) -> str:
    """Mirror of streaming.streaming_phash_probe: the documents stream
    (doc_id % stream_mod == 0) probed against the static hash store of
    the rest — per-doc average hashes from the phash_test_image cell
    formula, chunk-bucket candidates, bit_count verify, then the
    per-stream-doc (min store id, min hamming) aggregation that is the
    query's only stateful operator."""
    bits_per = 60 // chunks
    chunk_rows_s = " UNION ALL ".join(
        f"SELECT doc_id, fphash, {c} AS chunk, "
        f"(fphash >> {c * bits_per}) & {(1 << bits_per) - 1} AS key FROM strm"
        for c in range(chunks)
    )
    chunk_rows_t = " UNION ALL ".join(
        f"SELECT doc_id AS store_id, fphash AS fp_s, {c} AS chunk, "
        f"(fphash >> {c * bits_per}) & {(1 << bits_per) - 1} AS key FROM store"
        for c in range(chunks)
    )
    return (
        "WITH "
        + _ahash_fp_ctes("SELECT doc_id FROM documents")
        + f", strm AS (SELECT * FROM fp WHERE doc_id % {stream_mod} = 0), "
        f"store AS (SELECT * FROM fp WHERE doc_id % {stream_mod} <> 0), "
        f"bks AS ({chunk_rows_s}), bkt AS ({chunk_rows_t}), "
        "hits AS (SELECT DISTINCT s.doc_id, t.store_id, "
        "CAST(bit_count(xor(s.fphash, t.fp_s)) AS INT) AS hamming "
        "FROM bks s JOIN bkt t ON s.chunk = t.chunk AND s.key = t.key "
        f"WHERE bit_count(xor(s.fphash, t.fp_s)) <= {max_hamming}) "
        "SELECT doc_id, min(store_id) AS dup_store_id, "
        "min(hamming) AS min_hamming FROM hits GROUP BY doc_id"
    )


def strip_substring_runs_sql(
    k: int = 8, min_len: int = 12, max_gram_df: int | None = None
) -> str:
    """Mirror of dedup.strip_substring_runs over ``documents``: the
    substring_runs CTE chain -> victim (doc_b) span sets -> per-token
    NOT-EXISTS span-cover filter -> single-space rebuild, untouched
    docs passing through byte-identical. n_stripped = original token
    count minus kept count."""
    runs = substring_runs_sql(k, min_len, max_gram_df)
    return (
        f"WITH runs AS ({runs}), "
        "spans AS (SELECT doc_b AS doc_id, b_start AS s, "
        "b_start + match_len AS e FROM runs), "
        "victims AS (SELECT DISTINCT doc_id FROM spans), "
        "vt AS (SELECT d.doc_id, "
        r"list_filter(regexp_split_to_array(d.text, '[[:space:]]+'), w -> w <> '') AS toks "
        "FROM documents d JOIN victims USING (doc_id)), "
        "cnt AS (SELECT doc_id, len(toks) AS ntok FROM vt), "
        "tokix AS (SELECT doc_id, CAST(i AS INT) - 1 AS idx, toks[i] AS w "
        "FROM vt, unnest(range(1, len(toks) + 1)) AS u(i)), "
        "keep AS (SELECT t.* FROM tokix t WHERE NOT EXISTS "
        "(SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id "
        "AND s.s <= t.idx AND t.idx < s.e)), "
        "ka AS (SELECT doc_id, string_agg(w, ' ' ORDER BY idx) AS new_text, "
        "count(*) AS nkept FROM keep GROUP BY doc_id), "
        "rebuilt AS (SELECT c.doc_id, coalesce(ka.new_text, '') AS new_text, "
        "c.ntok - coalesce(ka.nkept, 0) AS n_stripped "
        "FROM cnt c LEFT JOIN ka USING (doc_id)) "
        "SELECT d.doc_id, coalesce(r.new_text, d.text) AS text, "
        "CAST(coalesce(r.n_stripped, 0) AS INT) AS n_stripped "
        "FROM documents d LEFT JOIN rebuilt r USING (doc_id)"
    )


def video_shared_runs_sql(min_run: int = 2, frames_per_doc: int = 3) -> str:
    """Mirror of multimodal.video_shared_runs over the synthetic clip
    corpus (frame ids ``doc_id + k``, positions 0..frames_per_doc-1):
    frame hashes from the phash_test_image md5 cell formula, the
    fhash-keyed pair self-join, then the substring_runs_sql
    gaps-and-islands per (pair, diagonal)."""
    return (
        "WITH fr0 AS (SELECT doc_id, CAST(k AS INT) AS pos, doc_id + k AS fid "
        f"FROM documents, unnest(range(0, {frames_per_doc})) AS u(k)), "
        + _ahash_fp_ctes("SELECT DISTINCT fid FROM fr0", "fid")
        + ", fh AS (SELECT fr0.doc_id, fr0.pos, fp.fphash "
        "FROM fr0 JOIN fp ON fr0.fid = fp.fid), "
        "hits AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, "
        "x.pos AS ia, y.pos AS ib FROM fh x JOIN fh y "
        "ON x.fphash = y.fphash AND x.doc_id < y.doc_id), "
        "isl AS (SELECT doc_a, doc_b, ia - ib AS diag, ia, "
        "ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib "
        "ORDER BY ia) AS grp FROM hits), "
        "runs AS (SELECT doc_a, doc_b, diag, min(ia) AS a_start, "
        "count(*) AS run_len FROM isl GROUP BY doc_a, doc_b, diag, grp) "
        "SELECT doc_a, doc_b, a_start, a_start - diag AS b_start, "
        f"CAST(run_len AS BIGINT) AS run_len FROM runs "
        f"WHERE run_len >= {min_run}"
    )


def gopher_rules_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> str:
    """Mirror of textstats.gopher_rules over ``documents``: the same
    token/line splits, integer counts, rounded-6 ratios, and the keep
    conjunction evaluated on the ROUNDED values (so boundary verdicts
    agree bit-for-bit); keep cast to int like the Spark side."""
    from pagerank_mapreduce_implementation_spark.operators.textstats import (
        GOPHER_STOPWORDS,
    )

    stop = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return (
        r"WITH t AS (SELECT doc_id, text, "
        r"list_filter(regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks, "
        r"list_filter(regexp_split_to_array(text, '\n'), ln -> trim(ln, ' ') <> '') AS lines "
        "FROM documents), "
        "m AS (SELECT doc_id, len(toks) AS n_words, len(lines) AS n_lines, "
        "coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS word_chars, "
        "len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words, "
        f"len(list_intersect(list_transform(toks, w -> lower(w)), [{stop}])) AS stop_hits, "
        "len(list_filter(lines, ln -> regexp_matches(trim(ln, ' '), '^([-*•])'))) AS bullet_lines, "
        r"len(list_filter(lines, ln -> regexp_matches(trim(ln, ' '), '\.\.\.$'))) AS ellipsis_lines, "
        "length(text) - length(replace(text, '#', '')) AS hashes, "
        "(length(text) - length(replace(text, '...', ''))) // 3 AS ellipses "
        "FROM t), "
        "r AS (SELECT doc_id, CAST(n_words AS INT) AS n_words, "
        "round(CASE WHEN n_words > 0 THEN word_chars::DOUBLE / n_words ELSE 0 END, 6) AS mean_word_len, "
        "round(CASE WHEN n_words > 0 THEN (hashes + ellipses)::DOUBLE / n_words ELSE 0 END, 6) AS symbol_ratio, "
        "round(CASE WHEN n_lines > 0 THEN bullet_lines::DOUBLE / n_lines ELSE 0 END, 6) AS bullet_ratio, "
        "round(CASE WHEN n_lines > 0 THEN ellipsis_lines::DOUBLE / n_lines ELSE 0 END, 6) AS ellipsis_ratio, "
        "round(CASE WHEN n_words > 0 THEN alpha_words::DOUBLE / n_words ELSE 0 END, 6) AS alpha_word_ratio, "
        "CAST(stop_hits AS INT) AS stopword_hits FROM m) "
        f"SELECT *, CAST((n_words >= {min_words} AND n_words <= {max_words} "
        f"AND mean_word_len >= {min_mean_word_len} AND mean_word_len <= {max_mean_word_len} "
        f"AND symbol_ratio <= {max_symbol_ratio} AND bullet_ratio <= {max_bullet_ratio} "
        f"AND ellipsis_ratio <= {max_ellipsis_ratio} AND alpha_word_ratio >= {min_alpha_word_ratio} "
        f"AND stopword_hits >= {min_stopword_hits}) AS INT) AS keep FROM r"
    )


def line_dedup_sql() -> str:
    """Mirror of dedup.line_dedup over the 10-tokens-per-line staging
    of ``documents`` (the registry query's shape): identical chunking,
    md5(lower(trim(line, ' '))) keys, keep-first by (doc_id, idx) via a
    window, ordered string_agg rebuild — untouched docs reassemble to
    the same bytes because split+join on the literal separator is
    lossless. Output matches the Spark side: (doc_id, text_md5,
    n_dropped_lines int)."""
    return (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks "
        "FROM documents), "
        "staged AS (SELECT doc_id, array_to_string("
        "[array_to_string(toks[(i*10+1):(i*10+10)], ' ') "
        "for i in range(CAST(ceil(len(toks)/10.0) AS BIGINT))], "
        "chr(10)) AS text FROM t), "
        "lines AS (SELECT doc_id, "
        "unnest(string_split(text, chr(10))) AS line, "
        "unnest(range(len(string_split(text, chr(10))))) AS idx "
        "FROM staged), "
        "keyed AS (SELECT doc_id, idx, md5(lower(trim(line, ' '))) AS k "
        "FROM lines WHERE len(trim(line, ' ')) >= 1), "
        "ranked AS (SELECT doc_id, idx, row_number() OVER "
        "(PARTITION BY k ORDER BY doc_id, idx) AS rn FROM keyed), "
        "dropped AS (SELECT doc_id, idx FROM ranked WHERE rn > 1) "
        "SELECT s.doc_id, md5(coalesce("
        "(SELECT string_agg(l.line, chr(10) ORDER BY l.idx) FROM lines l "
        "LEFT JOIN dropped d ON d.doc_id = l.doc_id AND d.idx = l.idx "
        "WHERE l.doc_id = s.doc_id AND d.doc_id IS NULL), '')) AS text_md5, "
        "CAST((SELECT count(*) FROM dropped d WHERE d.doc_id = s.doc_id) "
        "AS INT) AS n_dropped_lines FROM staged s"
    )


def intra_doc_line_dedup_sql(sep: str = " ", min_line_chars: int = 1) -> str:
    """Mirror of dedup.intra_doc_line_dedup over ``documents`` —
    the WITHIN-doc keep-first pass replayed entirely in list lambdas
    (no window, like the operator's zero-shuffle plan): per-line
    md5(lower(trim)) keys (NULL = exempt short line), keep line i iff
    exempt or ``list_position`` of its key equals i (DuckDB lambdas
    and list_position are both 1-based; Spark's filter-index is
    0-based with the matching +1). Registered over the corpus' actual
    separator (single space — the synthetic docs are one-line word
    soup, so "lines" are words and repeats are plentiful). Output
    matches the registered Spark form: (doc_id, text_md5,
    n_dropped_lines int), untouched docs hashing their ORIGINAL
    bytes."""
    if min_line_chars < 1:
        raise ValueError(f"min_line_chars ({min_line_chars}) must be >= 1")
    s = sep.replace("'", "''")
    m = int(min_line_chars)
    return (
        f"WITH s AS (SELECT doc_id, text, string_split(text, '{s}') AS ls "
        "FROM documents), "
        "k AS (SELECT doc_id, text, ls, list_transform(ls, x -> CASE "
        f"WHEN len(trim(x, ' ')) >= {m} THEN md5(lower(trim(x, ' '))) END) AS ks "
        "FROM s), "
        "f AS (SELECT doc_id, text, ls, list_filter(ls, (x, i) -> "
        "ks[i] IS NULL OR list_position(ks, ks[i]) = i) AS kept FROM k) "
        "SELECT doc_id, md5(CASE WHEN len(ls) = len(kept) THEN text "
        f"ELSE array_to_string(kept, '{s}') END) AS text_md5, "
        "CAST(len(ls) - len(kept) AS INT) AS n_dropped_lines FROM f"
    )


def semdedup_sql(
    n_cells: int = 8,
    threshold: float = 0.4,
    n_iters: int = 2,
    keep_rule: str = "centroid_far",
    emb_sql: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """Mirror of dedup.semdedup (Abbas et al. 2023): Lloyd-unrolled
    centroids (the ivf_topk_lloyd construction — identical
    deterministic seed, bit-exact sequential folds), assignment that
    KEEPS the winning centroid-cosine, within-cell pairs >= threshold,
    and the victim rule (``centroid_far``: the member closer to its
    centroid drops, ties to the higher id; ``min_id``: the higher id
    drops). Survivors of ``documents`` — the embedding_dedup output
    shape. All cosines are double-fold IEEE-exact on both engines, so
    the threshold and the ccos ordering compare bit-for-bit.

    ``emb_sql`` swaps the vector source — e.g. a matryoshka-truncated
    projection of ``embeddings`` (the wide-embedding SemDeDup path) —
    and must yield ``(vec_id, embedding)``."""
    parts = [
        f"WITH emb AS ({emb_sql}), "
        "seed AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, "
        "CAST(embedding AS DOUBLE[]) AS cvec FROM "
        f"(SELECT * FROM emb ORDER BY vec_id LIMIT {n_cells}) s), "
        "base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, "
        f"{_norm_sql('embedding')} AS vnorm FROM emb), ",
    ]
    prev = "seed"
    for t in range(n_iters):
        parts.append(
            f"sc{t} AS (SELECT b.vec_id, b.vec, b.vnorm, c.cell_id, "
            f"{_dot_sql('b.vec', 'c.cvec')} / (b.vnorm * {_norm_sql('c.cvec')}) "
            f"AS ccos FROM base b CROSS JOIN {prev} c), "
            f"as{t} AS (SELECT vec_id, vec, cell_id FROM (SELECT *, row_number() "
            f"OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn "
            f"FROM sc{t}) WHERE rn = 1), "
            "mean"
            f"{t} AS (SELECT cell_id, list_transform(range(1, len(ms[1]) + 1), "
            "d -> list_reduce(list_transform(ms, m -> m[d]), (a, b) -> a + b) "
            "/ len(ms)) AS mvec FROM (SELECT cell_id, "
            f"list(vec ORDER BY vec_id) AS ms FROM as{t} GROUP BY cell_id)), "
            f"cents{t + 1} AS (SELECT p.cell_id, coalesce(m.mvec, p.cvec) AS cvec "
            f"FROM {prev} p LEFT JOIN mean{t} m ON p.cell_id = m.cell_id), "
        )
        prev = f"cents{t + 1}"
    victim = (
        "CASE WHEN a.ccos > b.ccos THEN a.vec_id "
        "WHEN b.ccos > a.ccos THEN b.vec_id "
        "ELSE greatest(a.vec_id, b.vec_id) END"
        if keep_rule == "centroid_far"
        else "b.vec_id"
    )
    parts.append(
        "scored AS (SELECT b.vec_id, b.vec, b.vnorm, c.cell_id, "
        f"{_dot_sql('b.vec', 'c.cvec')} / (b.vnorm * {_norm_sql('c.cvec')}) "
        f"AS ccos FROM base b CROSS JOIN {prev} c), "
        "assign AS (SELECT vec_id, vec, vnorm, cell_id, ccos FROM "
        "(SELECT *, row_number() OVER (PARTITION BY vec_id "
        "ORDER BY ccos DESC, cell_id ASC) AS rn FROM scored) WHERE rn = 1), "
        f"dropped AS (SELECT DISTINCT {victim} AS doc_id "
        "FROM assign a JOIN assign b "
        "ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id "
        f"WHERE {_dot_sql('a.vec', 'b.vec')} / (a.vnorm * b.vnorm) "
        f">= {threshold}) "
        "SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d "
        "LEFT JOIN dropped x ON d.doc_id = x.doc_id WHERE x.doc_id IS NULL"
    )
    return "".join(parts)


def _c4_line_survives_sql(ln: str = "ln") -> str:
    """One surviving-line predicate shared by c4_rules oracles."""
    return (
        f"regexp_matches({ln}, '[.!?][\"’”]?[[:space:]]*$') AND "
        f"len(list_filter(regexp_split_to_array(trim({ln}, ' '), '[[:space:]]+'), "
        f"w -> w <> '')) >= 3 AND NOT contains(lower({ln}), 'javascript')"
    )


def c4_rules_sql(min_sentences: int = 5, source: str = "documents") -> str:
    """Mirror of textstats.c4_rules defaults over ``source`` (a table
    or a parenthesized staged subquery): same line-survival predicate,
    \\n re-join, surviving-line sentence count, and the lorem-ipsum /
    curly-brace page needles; keep cast to int."""
    surv = _c4_line_survives_sql()
    return (
        f"WITH t AS (SELECT doc_id, text, "
        f"list_filter(string_split(text, chr(10)), ln -> {surv}) AS kept "
        f"FROM {source}) "
        "SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS clean_text, "
        "CAST(len(kept) AS INT) AS n_lines_kept, "
        f"CAST((len(kept) >= {min_sentences} "
        "AND NOT contains(lower(text), 'lorem ipsum') "
        "AND NOT contains(lower(text), '{')) AS INT) AS keep FROM t"
    )


def gopher_repetition_sql(
    source: str = "documents",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    top_ngram_caps: tuple = ((2, 0.20), (3, 0.18), (4, 0.16)),
    dup_ngram_caps: tuple = (
        (5, 0.15),
        (6, 0.14),
        (7, 0.13),
        (8, 0.12),
        (9, 0.11),
        (10, 0.10),
    ),
) -> str:
    """Mirror of textstats.gopher_repetition over ``source`` —
    deliberately RELATIONAL where the operator is per-row folds
    (unnest + GROUP BY counts, a row_number argmax for the top gram,
    an occurrence×offset join for position coverage), so the parity
    check exercises two independent formulations of the same
    definitions. Fractions rounded-6 before the keep conjunction on
    both engines."""
    parts = [
        "WITH t AS (SELECT doc_id, text, "
        r"list_filter(list_transform(string_split(text, chr(10)), "
        "ln -> trim(ln, ' ')), ln -> ln <> '') AS lns, "
        r"list_filter(regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') "
        f"AS toks FROM {source}), "
        "lcnt AS (SELECT doc_id, ln, count(*) AS c FROM "
        "(SELECT doc_id, unnest(lns) AS ln FROM t) GROUP BY doc_id, ln), "
        "lstat AS (SELECT doc_id, sum(c - 1) AS dup_occ, "
        "sum((c - 1) * length(ln)) AS dup_chars, "
        "sum(c * length(ln)) AS all_chars, sum(c) AS n_lines "
        "FROM lcnt GROUP BY doc_id), ",
    ]
    sel = [
        "round(CASE WHEN coalesce(l.n_lines, 0) > 0 THEN "
        "CAST(l.dup_occ AS DOUBLE) / l.n_lines ELSE 0.0 END, 6) "
        "AS dup_line_frac",
        "round(CASE WHEN coalesce(l.all_chars, 0) > 0 THEN "
        "CAST(l.dup_chars AS DOUBLE) / l.all_chars ELSE 0.0 END, 6) "
        "AS dup_line_char_frac",
    ]
    joins = ["LEFT JOIN lstat l ON t.doc_id = l.doc_id"]
    for n, _cap in top_ngram_caps + dup_ngram_caps:
        parts.append(
            f"g{n} AS (SELECT doc_id, g, count(*) AS c FROM "
            f"(SELECT doc_id, array_to_string(toks[(i+1):(i+{n})], ' ') AS g "
            f"FROM t, unnest(range(greatest(len(toks) - {n} + 1, 0))) u(i)) "
            "GROUP BY doc_id, g), "
        )
    for n, _cap in top_ngram_caps:
        parts.append(
            f"top{n} AS (SELECT doc_id, g, c FROM (SELECT doc_id, g, c, "
            "row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) "
            f"AS rn FROM g{n}) WHERE rn = 1), "
        )
        sel.append(
            f"round(CASE WHEN coalesce(tp{n}.c, 0) >= 2 "
            "AND length(t.text) > 0 THEN "
            f"CAST(tp{n}.c * length(tp{n}.g) AS DOUBLE) / length(t.text) "
            f"ELSE 0.0 END, 6) AS top_{n}gram_char_frac"
        )
        joins.append(f"LEFT JOIN top{n} tp{n} ON t.doc_id = tp{n}.doc_id")
    for n, _cap in dup_ngram_caps:
        parts.append(
            f"occ{n} AS (SELECT p.doc_id, p.k FROM "
            "(SELECT doc_id, i + 1 AS k, "
            f"array_to_string(toks[(i+1):(i+{n})], ' ') AS g "
            f"FROM t, unnest(range(greatest(len(toks) - {n} + 1, 0))) u(i)) p "
            f"JOIN g{n} x ON p.doc_id = x.doc_id AND p.g = x.g "
            "WHERE x.c >= 2), "
            f"cov{n} AS (SELECT DISTINCT doc_id, k + d AS pos FROM occ{n}, "
            f"unnest(range({n})) v(d)), "
            f"cc{n} AS (SELECT c.doc_id, "
            "sum(length(t.toks[c.pos])) AS chars "
            f"FROM cov{n} c JOIN t ON c.doc_id = t.doc_id "
            "GROUP BY c.doc_id), "
        )
        sel.append(
            "round(CASE WHEN tkc.chars > 0 THEN "
            f"CAST(coalesce(cc{n}.chars, 0) AS DOUBLE) / tkc.chars "
            f"ELSE 0.0 END, 6) AS dup_{n}gram_char_frac"
        )
        joins.append(f"LEFT JOIN cc{n} ON t.doc_id = cc{n}.doc_id")
    parts.append(
        "tkc AS (SELECT doc_id, coalesce(list_sum(list_transform(toks, "
        "w -> length(w))), 0) AS chars FROM t) "
    )
    joins.append("LEFT JOIN tkc ON t.doc_id = tkc.doc_id")
    caps = (
        [("dup_line_frac", max_dup_line_frac),
         ("dup_line_char_frac", max_dup_line_char_frac)]
        + [(f"top_{n}gram_char_frac", c) for n, c in top_ngram_caps]
        + [(f"dup_{n}gram_char_frac", c) for n, c in dup_ngram_caps]
    )
    keep = " AND ".join(f"{m} <= {c}" for m, c in caps)
    inner = (
        "".join(parts)
        + "SELECT t.doc_id, "
        + ", ".join(sel)
        + " FROM t "
        + " ".join(joins)
    )
    return (
        f"SELECT *, CAST(({keep}) AS INT) AS keep FROM ({inner}) metrics"
    )


def hits_sql(
    edges_sql: str = EDGES_SQL,
    n_iters: int = 10,
    round_digits: int = 6,
    limit: int | None = None,
) -> str:
    """Unrolled HITS (graph.hits) as one DuckDB query: per iteration,
    an authority half-step (sum of in-neighbor hubs, L2-normalize)
    then a hub half-step (sum of out-neighbor authorities,
    L2-normalize); duplicate edges contribute per occurrence; zero
    norm yields zeros. Scores rounded at the END only (the
    pagerank_sql convention — intermediate doubles run full
    precision)."""
    # MATERIALIZED: the unrolled iterations reference links/pages ~20
    # times; DuckDB inlines plain CTEs, re-opening the parquet per
    # reference — measured fd exhaustion next to a live Spark session
    parts = [
        f"WITH links AS MATERIALIZED ({edges_sql}), ",
        "pages AS MATERIALIZED (SELECT src AS url FROM links UNION "
        "SELECT dst AS url FROM links), ",
        "h0 AS (SELECT url, 1.0 AS hub FROM pages), ",
    ]
    # every iteration CTE is MATERIALIZED too: the normalize step
    # reads its input twice (sum of squares + the division), so plain
    # CTE inlining doubles the plan per half-step — 4^n_iters blowup,
    # measured 12s at FOUR iterations on a 21-vertex graph
    for i in range(1, n_iters + 1):
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT p.url, coalesce(s.c, 0) AS a "
            "FROM pages p "
            "LEFT JOIN (SELECT l.dst AS url, sum(h.hub) AS c FROM links l "
            f"JOIN h{i - 1} h ON l.src = h.url GROUP BY l.dst) s "
            "ON p.url = s.url), "
            f"a{i} AS MATERIALIZED (SELECT url, CASE WHEN n > 0 THEN a / n "
            "ELSE 0.0 END AS auth FROM ar"
            f"{i}, (SELECT sqrt(sum(a * a)) AS n FROM ar{i}) nn), "
            f"hr{i} AS MATERIALIZED (SELECT p.url, coalesce(s.c, 0) AS h "
            "FROM pages p "
            "LEFT JOIN (SELECT l.src AS url, sum(a.auth) AS c FROM links l "
            f"JOIN a{i} a ON l.dst = a.url GROUP BY l.src) s "
            "ON p.url = s.url), "
            f"h{i} AS MATERIALIZED (SELECT url, CASE WHEN n > 0 THEN h / n "
            "ELSE 0.0 END AS hub FROM hr"
            f"{i}, (SELECT sqrt(sum(h * h)) AS n FROM hr{i}) nn), "
        )
    parts.append(
        f"fin AS (SELECT h.url, round(h.hub, {round_digits}) AS hub, "
        f"round(a.auth, {round_digits}) AS authority "
        f"FROM h{n_iters} h JOIN a{n_iters} a ON h.url = a.url) "
        "SELECT url, hub, authority FROM fin"
    )
    sql = "".join(parts)
    if limit is not None:
        sql += f" ORDER BY authority DESC, url ASC LIMIT {limit}"
    return sql


def _dsir_gram_sql(pred: str, n_buckets: int, ngram_ns: tuple, salt: str) -> str:
    """Hashed n-gram bucket counts over ``documents WHERE pred`` — the
    SQL twin of sampling._hashed_gram_counts (same md5-15-hex bucket,
    same whitespace tokens, same space-joined grams)."""
    parts = []
    for n in ngram_ns:
        n = int(n)
        if n == 1:
            parts.append(
                "SELECT doc_id, unnest(list_filter("
                r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) AS g "
                f"FROM documents WHERE {pred}"
            )
        else:
            joined = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
            parts.append(
                f"SELECT doc_id, {joined} AS g FROM (SELECT doc_id, "
                r"list_filter(regexp_split_to_array(text, '[[:space:]]+'), "
                "w -> w <> '') AS toks FROM documents WHERE "
                f"{pred}), unnest(range(1, len(toks) - {n - 2})) AS u(i) "
                f"WHERE len(toks) >= {n}"
            )
    union = " UNION ALL ".join(parts)
    return (
        f"SELECT doc_id, ('0x' || substr(md5('{salt}' || g), 1, 15))"
        f"::UBIGINT::BIGINT % {n_buckets} AS bucket, count(*) AS cnt "
        f"FROM ({union}) GROUP BY 1, 2"
    )


def dsir_weights_sql(
    raw_pred: str = "lang <> 'en'",
    target_pred: str = "lang = 'en'",
    n_buckets: int = 1024,
    ngram_ns: tuple = (1, 2),
    smoothing: float = 1.0,
    salt: str = "dsir:",
) -> str:
    """Mirror of sampling.dsir_weights over ``documents`` split by two
    predicates: identical md5 bucketing, Laplace smoothing, log10
    ratio, round-6 per-doc weighted sum."""
    a = float(smoothing)
    ab = a * float(n_buckets)
    return (
        f"WITH rawbc AS ({_dsir_gram_sql(raw_pred, n_buckets, ngram_ns, salt)}), "
        f"tgtbc AS ({_dsir_gram_sql(target_pred, n_buckets, ngram_ns, salt)}), "
        "rd AS (SELECT bucket, sum(cnt) AS r FROM rawbc GROUP BY 1), "
        "td AS (SELECT bucket, sum(cnt) AS t FROM tgtbc GROUP BY 1), "
        "d AS (SELECT coalesce(rd.bucket, td.bucket) AS bucket, "
        "coalesce(r, 0) AS r, coalesce(t, 0) AS t "
        "FROM rd FULL OUTER JOIN td ON rd.bucket = td.bucket), "
        "tot AS (SELECT sum(r) AS rtot, sum(t) AS ttot FROM d), "
        f"lam AS (SELECT bucket, log10((t + {a}) / (ttot::DOUBLE + {ab})) "
        f"- log10((r + {a}) / (rtot::DOUBLE + {ab})) AS lam FROM d, tot) "
        "SELECT doc_id, CAST(sum(cnt) AS INT) AS n_grams, "
        "round(sum(cnt * lam), 6) AS log_weight "
        "FROM rawbc JOIN lam USING(bucket) GROUP BY 1"
    )


def dsir_select_sql(
    k: int,
    raw_pred: str = "lang <> 'en'",
    target_pred: str = "lang = 'en'",
    n_buckets: int = 1024,
    ngram_ns: tuple = (1, 2),
    smoothing: float = 1.0,
    salt: str = "dsir:",
    gumbel_salt: str = "dsir-gumbel:",
) -> str:
    """Mirror of sampling.dsir_select: Gumbel top-k over the weights —
    the 52-bit md5-uniform coin, ln(10) as the SAME double literal the
    Spark side folds in (never computed in-engine), score rounded 6
    and ordered (score DESC, doc_id) like the Spark side."""
    w = dsir_weights_sql(
        raw_pred, target_pred, n_buckets, ngram_ns, smoothing, salt
    )
    return (
        f"WITH w AS ({w}) SELECT doc_id, log_weight, "
        "round(log_weight * 2.302585092994046 - ln(-ln("
        f"('0x' || substr(md5('{gumbel_salt}' || CAST(doc_id AS VARCHAR)), "
        "1, 13))::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0)), 6) "
        f"AS score FROM w ORDER BY score DESC, doc_id LIMIT {int(k)}"
    )


def bigram_lm_sql(add_k: float = 1.0) -> str:
    """Mirror of textstats.bigram_lm_scores over ``documents``: same
    whitespace tokens, adjacent-pair bigrams, add-k smoothed
    conditional -log10, per-doc mean rounded 6."""
    k = float(add_k)
    return (
        "WITH t AS (SELECT doc_id, list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
        "FROM documents), "
        "b AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM t, "
        "unnest(range(1, len(toks))) AS u(i) WHERE len(toks) >= 2), "
        "c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2), "
        "c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1), "
        "v AS (SELECT count(DISTINCT w) AS v FROM "
        "(SELECT unnest(toks) AS w FROM t)), "
        f"s AS (SELECT w1, w2, -log10((c2 + {k}) / (c1 + {k} * v)) "
        "AS sp FROM c2 JOIN c1 USING(w1), v) "
        "SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, "
        "round(sum(sp) / count(*), 6) AS nll "
        "FROM b JOIN s USING(w1, w2) GROUP BY 1"
    )


def entropy_stats_sql() -> str:
    """Mirror of textstats.entropy_stats over ``documents``: per-doc
    character Shannon entropy in bits (relational unnest+GROUP BY
    against the Spark side's per-row sorted fold — two independent
    formulations under one hash gate); empty docs report zeros."""
    return (
        "WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch "
        "FROM documents WHERE length(text) > 0), "
        "g AS (SELECT doc_id, ch, count(*) AS n_c FROM c GROUP BY 1, 2), "
        "t AS (SELECT doc_id, sum(n_c) AS n FROM g GROUP BY 1), "
        "e AS (SELECT g.doc_id, CAST(t.n AS INT) AS n_chars, "
        "CAST(count(*) AS INT) AS n_distinct_chars, "
        "round(-sum((n_c::DOUBLE / n) * log2(n_c::DOUBLE / n)), 6) "
        "AS char_entropy FROM g JOIN t ON g.doc_id = t.doc_id "
        "GROUP BY g.doc_id, t.n) "
        "SELECT d.doc_id, coalesce(e.n_chars, 0) AS n_chars, "
        "coalesce(e.n_distinct_chars, 0) AS n_distinct_chars, "
        "coalesce(e.char_entropy, 0.0) AS char_entropy "
        "FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id"
    )


def quality_classifier_sql(
    label_pred: str = "length(text) > 300",
    n_iters: int = 10,
    learning_rate: float = 1.0,
) -> str:
    """Mirror of textstats.quality_classifier_scores over
    ``documents``: identical feature ratios, round-12/decimal(32,12)
    moment and gradient sums (order-independent exact addition — the
    same contract both engines), z-score standardization with
    IEEE-exact sqrt, and the full-batch GD unrolled one CTE pair per
    iteration (the hits_sql/lloyd unroll convention). Every double op
    (casts, divisions, multiplies, the left-to-right dot product) is
    written in the same association order the Spark/driver side uses,
    so the trained weights — and therefore every score — are
    bit-identical."""
    from pagerank_mapreduce_implementation_spark.operators.textstats import (
        GOPHER_STOPWORDS,
        QUALITY_CLF_FEATURES,
    )

    stop = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    lr = float(learning_rate)
    fc = list(QUALITY_CLF_FEATURES)
    parts = [
        "WITH feats AS (SELECT doc_id, "
        f"CAST(CAST({label_pred} AS INT) AS DOUBLE) AS y, "
        "least(len(toks), 1000)::DOUBLE / 1000.0 AS x1, "
        "least(CASE WHEN len(toks) > 0 THEN "
        "list_sum(list_transform(toks, w -> length(w)))::DOUBLE / len(toks) "
        "ELSE 0.0 END, 20.0) / 20.0 AS x2, "
        f"len(list_intersect(list_transform(toks, w -> lower(w)), [{stop}]))"
        "::DOUBLE / 8.0 AS x3, "
        "CASE WHEN len(toks) > 0 THEN len(list_filter(toks, "
        "w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE / len(toks) "
        "ELSE 0.0 END AS x4, "
        "CASE WHEN len(toks) > 0 THEN len(list_filter(toks, "
        "w -> regexp_matches(w, '[0-9]')))::DOUBLE / len(toks) "
        "ELSE 0.0 END AS x5 "
        "FROM (SELECT doc_id, text, list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
        "FROM documents)), ",
        "mom AS (SELECT count(*) AS n, "
        + ", ".join(
            f"sum(CAST(round({c}, 12) AS DECIMAL(32,12))) AS s_{c}, "
            f"sum(CAST(round({c} * {c}, 12) AS DECIMAL(32,12))) AS q_{c}"
            for c in fc
        )
        + " FROM feats), ",
        "st AS (SELECT "
        + ", ".join(
            f"CAST(s_{c} AS DOUBLE) / n AS mu_{c}, "
            f"CASE WHEN CAST(q_{c} AS DOUBLE) / n - "
            f"(CAST(s_{c} AS DOUBLE) / n) * (CAST(s_{c} AS DOUBLE) / n) > 0 "
            f"THEN sqrt(CAST(q_{c} AS DOUBLE) / n - "
            f"(CAST(s_{c} AS DOUBLE) / n) * (CAST(s_{c} AS DOUBLE) / n)) "
            f"ELSE 0.0 END AS sg_{c}"
            for c in fc
        )
        + ", n FROM mom), ",
        "std AS (SELECT doc_id, y, "
        + ", ".join(
            f"CASE WHEN sg_{c} > 0 THEN ({c} - mu_{c}) / sg_{c} "
            f"ELSE 0.0 END AS {c}"
            for c in fc
        )
        + " FROM feats, st), ",
        "w0 AS (SELECT 0.0 AS b, "
        + ", ".join(f"0.0 AS w_{c}" for c in fc)
        + "), ",
    ]
    dot = "(b + " + " + ".join(f"w_{c} * {c}" for c in fc) + ")"
    resid = f"(y - 1.0 / (1.0 + exp(-{dot})))"
    xs = ["1.0"] + fc
    for i in range(1, n_iters + 1):
        p = i - 1
        parts.append(
            f"g{i} AS (SELECT "
            + ", ".join(
                f"sum(CAST(round({resid} * {x}, 12) AS DECIMAL(32,12))) "
                f"AS s{j}"
                for j, x in enumerate(xs)
            )
            + f" FROM std, w{p}), "
        )
        names = ["b"] + [f"w_{c}" for c in fc]
        parts.append(
            f"w{i} AS (SELECT "
            + ", ".join(
                f"{nm} + {lr} * (CAST(s{j} AS DOUBLE) / n) AS {nm}"
                for j, nm in enumerate(names)
            )
            + f" FROM w{p}, g{i}, st) "
            + ("," if i < n_iters else "")
        )
    parts.append(
        f" SELECT doc_id, CAST(y AS INT) AS label, "
        f"round(1.0 / (1.0 + exp(-{dot})), 6) AS score, "
        f"round(1.0 / (1.0 + exp(-{dot})), 6) >= 0.5 AS predicted "
        f"FROM std, w{n_iters}"
    )
    return "".join(parts)


def novelty_scores_sql(n: int = 5) -> str:
    """Mirror of textstats.novelty_scores over ``documents``: the
    shared shingle CTE (same tokenizer/gram/distinct conventions as
    every dedup oracle), document frequency per gram, per-doc novel
    fraction rounded 6."""
    return (
        f"WITH {_shingles_ngram(n)}, "
        "dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1) "
        "SELECT sh.doc_id, CAST(count(*) AS INT) AS n_grams, "
        "round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE "
        "/ count(*), 6) AS novel_frac "
        "FROM sh JOIN dfq USING(shingle) GROUP BY sh.doc_id"
    )


def _cdc_chunks_ctes(window: int = 3, divisor: int = 16) -> str:
    """Shared CTE chain rebuilding dedup.cdc_chunks in SQL: token md5
    hashes mod M, the polynomial rolling-hash cut test at every
    position >= window, doc-end boundary, chunk spans from consecutive
    boundaries. Positions are 1-based on both sides; the rolling hash
    ending at p is sum_j th[p-j]*BASE^j mod M — the identical integer
    formula, so chunk_hash strings are cross-engine exact."""
    B, M = 8191, 1_000_000_007
    poly = " + ".join(f"th[p - {j}] * {B**j}" for j in range(window))
    return (
        "t AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
        "'[[:space:]]+'), w -> w <> '') AS toks FROM documents), "
        "h AS (SELECT doc_id, toks, len(toks) AS n, "
        "list_transform(toks, x -> CAST(('0x' || substr(md5(x), 1, 15)) "
        f"AS UBIGINT)::BIGINT % {M}) AS th "
        "FROM t WHERE len(toks) > 0), "
        "c AS (SELECT doc_id, toks, list_sort(list_distinct("
        f"[CAST(p AS INT) for p in range({window}, n + 1) "
        f"if (({poly}) % {M}) % {divisor} = 0] || [CAST(n AS INT)])) "
        "AS bounds FROM h), "
        "ch AS (SELECT doc_id, CAST(j AS INT) AS chunk_idx, "
        "md5(array_to_string(toks[(CASE WHEN j = 1 THEN 1 ELSE "
        "bounds[CAST(j AS INT) - 1] + 1 END) : bounds[CAST(j AS INT)]], "
        "' ')) AS chunk_hash, "
        "CAST(bounds[CAST(j AS INT)] - (CASE WHEN j = 1 THEN 1 ELSE "
        "bounds[CAST(j AS INT) - 1] + 1 END) + 1 AS BIGINT) AS n_tokens "
        "FROM c, unnest(range(1, len(bounds) + 1)) AS u(j))"
    )


def cdc_chunks_sql(window: int = 3, divisor: int = 16) -> str:
    """Mirror of dedup.cdc_chunks over ``documents``."""
    return (
        f"WITH {_cdc_chunks_ctes(window, divisor)} "
        "SELECT doc_id, chunk_idx, chunk_hash, n_tokens FROM ch"
    )


def cdc_dup_stats_sql(window: int = 3, divisor: int = 16) -> str:
    """Mirror of dedup.cdc_dup_stats: corpus-wide occurrence count per
    chunk hash, per-doc dup chunk/token mass rounded 6."""
    return (
        f"WITH {_cdc_chunks_ctes(window, divisor)}, "
        "occ AS (SELECT chunk_hash, count(*) AS o FROM ch GROUP BY 1) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks, "
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, "
        "CAST(sum(CASE WHEN o > 1 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS dup_chunks, "
        "CAST(sum(CASE WHEN o > 1 THEN n_tokens ELSE 0 END) AS BIGINT) "
        "AS dup_tokens, "
        "round(sum(CASE WHEN o > 1 THEN n_tokens ELSE 0 END)::DOUBLE "
        "/ sum(n_tokens), 6) AS dup_token_frac "
        "FROM ch JOIN occ USING (chunk_hash) GROUP BY doc_id"
    )


def _pq_ctes(m: int, k: int, n_iters: int, dims: int) -> str:
    """Shared CTE chain retraining similarity.pq_train in SQL and
    encoding every vector: per-subspace first-k seed, ``n_iters``
    unrolled Lloyd steps under squared-L2 argmin (ties to the lowest
    code), id-ordered sequential mean folds (the ivf_topk_lloyd_sql
    convention), final per-(vec, subspace) code assignment in
    ``enc``."""
    sd = dims // m
    d2 = (
        "list_sum(list_transform(range(1, {sd} + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )

    def dist(a: str, b: str) -> str:
        return d2.format(sd=sd, a=a, b=b)

    parts = [
        "sub AS (SELECT vec_id, CAST(s AS INT) AS s, "
        f"(CAST(embedding AS DOUBLE[]))[CAST(s AS INT) * {sd} + 1 : "
        f"(CAST(s AS INT) + 1) * {sd}] AS subvec "
        f"FROM embeddings, unnest(range(0, {m})) AS u(s)), "
        "seedv AS (SELECT row_number() OVER (ORDER BY vec_id) AS code, "
        "CAST(embedding AS DOUBLE[]) AS v FROM "
        f"(SELECT * FROM embeddings ORDER BY vec_id LIMIT {k})), "
        "cb0 AS (SELECT CAST(s AS INT) AS s, CAST(code AS INT) AS code, "
        f"v[CAST(s AS INT) * {sd} + 1 : (CAST(s AS INT) + 1) * {sd}] AS cvec "
        f"FROM seedv, unnest(range(0, {m})) AS u(s)), ",
    ]
    prev = "cb0"
    for t in range(n_iters):
        parts.append(
            f"sc{t} AS (SELECT b.vec_id, b.s, b.subvec, c.code, "
            f"{dist('b.subvec', 'c.cvec')} AS d2 "
            f"FROM sub b JOIN {prev} c ON b.s = c.s), "
            f"as{t} AS (SELECT vec_id, s, subvec, code FROM (SELECT *, "
            "row_number() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, "
            f"code ASC) AS rn FROM sc{t}) WHERE rn = 1), "
            f"mean{t} AS (SELECT s, code, list_transform(range(1, {sd} + 1), "
            "d -> list_reduce(list_transform(ms, e -> e[d]), (a, b) -> a + b) "
            "/ len(ms)) AS mvec FROM (SELECT s, code, "
            f"list(subvec ORDER BY vec_id) AS ms FROM as{t} GROUP BY s, code)), "
            f"cb{t + 1} AS (SELECT p.s, p.code, coalesce(m.mvec, p.cvec) AS "
            f"cvec FROM {prev} p LEFT JOIN mean{t} m ON p.s = m.s AND "
            "p.code = m.code), "
        )
        prev = f"cb{t + 1}"
    parts.append(
        f"scf AS (SELECT b.vec_id, b.s, b.subvec, c.code, "
        f"{dist('b.subvec', 'c.cvec')} AS d2 "
        f"FROM sub b JOIN {prev} c ON b.s = c.s), "
        "enc AS (SELECT vec_id, s, code FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id, s ORDER BY d2 ASC, code ASC) AS rn FROM scf) "
        "WHERE rn = 1)"
    )
    return "".join(parts), prev


def pq_encode_sql(
    m: int = 4, k: int = 8, n_iters: int = 2, dims: int = 64
) -> str:
    """Mirror of similarity.pq_train + pq_encode over ``embeddings``:
    comma-joined per-subspace codes, subspace order."""
    ctes, _ = _pq_ctes(m, k, n_iters, dims)
    return (
        f"WITH {ctes} "
        "SELECT vec_id, array_to_string(list(code ORDER BY s), ',') AS codes "
        "FROM enc GROUP BY vec_id"
    )


def pq_topk_sql(
    query_vec_id: int = 0,
    topk: int = 10,
    m: int = 4,
    k: int = 8,
    n_iters: int = 2,
    dims: int = 64,
) -> str:
    """Mirror of similarity.pq_topk: ADC — per-subspace distance table
    from the query's subvectors to the final codebook, candidate score
    = subspace-ordered sum of table entries at the encoded codes."""
    sd = dims // m
    ctes, prev = _pq_ctes(m, k, n_iters, dims)
    return (
        f"WITH {ctes}, "
        "qs AS (SELECT CAST(s AS INT) AS s, "
        f"(CAST(embedding AS DOUBLE[]))[CAST(s AS INT) * {sd} + 1 : "
        f"(CAST(s AS INT) + 1) * {sd}] AS qv "
        f"FROM embeddings, unnest(range(0, {m})) AS u(s) "
        f"WHERE vec_id = {query_vec_id}), "
        f"dt AS (SELECT c.s, c.code, list_sum(list_transform(range(1, {sd} + 1), "
        "i -> (q.qv[i] - c.cvec[i]) * (q.qv[i] - c.cvec[i]))) AS d "
        f"FROM {prev} c JOIN qs q ON c.s = q.s) "
        "SELECT vec_id, round(list_sum(list(d ORDER BY s)), 6) AS adist "
        "FROM enc JOIN dt USING (s, code) "
        f"WHERE vec_id <> {query_vec_id} "
        "GROUP BY vec_id "
        f"ORDER BY adist ASC, vec_id ASC LIMIT {topk}"
    )


def _unimax_ctes(total_budget: float, epoch_cap: float) -> str:
    """Shared CTE chain replaying sampling._unimax_waterfall in SQL:
    per-source token totals, ascending (T, source) allocation order, a
    recursive CTE stepping the remaining budget through
    ``min(epoch_cap*T, remaining/sources_left)`` — the identical IEEE
    double ops in the identical order, so budgets are bit-equal to the
    driver-side Python floats."""
    n = repr(float(total_budget))
    e = repr(float(epoch_cap))
    return (
        "t AS (SELECT doc_id, source, n_chars, CAST(len(list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) AS BIGINT) AS nt "
        "FROM documents), "
        "tot AS (SELECT source, sum(nt) AS Ti FROM t GROUP BY source), "
        "ord AS (SELECT source, Ti, CAST(Ti AS DOUBLE) AS T, "
        "row_number() OVER (ORDER BY Ti, source) AS i, "
        "count(*) OVER () AS n FROM tot), "
        "alloc(i, source, Ti, T, b, rem) AS ("
        "SELECT i, source, Ti, T, "
        f"least({e} * T, {n} / CAST(n AS DOUBLE)), "
        f"{n} - least({e} * T, {n} / CAST(n AS DOUBLE)) "
        "FROM ord WHERE i = 1 "
        "UNION ALL "
        "SELECT o.i, o.source, o.Ti, o.T, "
        f"least({e} * o.T, a.rem / CAST(o.n - o.i + 1 AS DOUBLE)), "
        f"a.rem - least({e} * o.T, a.rem / CAST(o.n - o.i + 1 AS DOUBLE)) "
        "FROM ord o JOIN alloc a ON o.i = a.i + 1)"
    )


def unimax_alloc_sql(total_budget: float, epoch_cap: float) -> str:
    """Mirror of sampling.unimax_mix(return_alloc=True): the recipe
    table (source, n_tokens, budget, keep_rate) rounded 6."""
    return (
        f"WITH RECURSIVE {_unimax_ctes(total_budget, epoch_cap)} "
        "SELECT source, CAST(Ti AS BIGINT) AS n_tokens, "
        "round(b, 6) AS budget, "
        "round(CASE WHEN Ti = 0 THEN 0.0 ELSE least(b / T, 1.0) END, 6) "
        "AS keep_rate FROM alloc"
    )


def unimax_mix_sql(total_budget: float, epoch_cap: float) -> str:
    """Mirror of sampling.unimax_mix: the 52-bit md5 coin against the
    unrounded per-source budget (u(doc) * T < b)."""
    return (
        f"WITH RECURSIVE {_unimax_ctes(total_budget, epoch_cap)} "
        "SELECT t.doc_id, t.source, t.n_chars "
        "FROM t JOIN alloc a ON t.source = a.source "
        "WHERE ('0x' || substr(md5('unimax:' || CAST(t.doc_id AS VARCHAR)), "
        "1, 13))::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0 "
        "* a.T < a.b"
    )


def ivf_pq_topk_sql(
    query_vec_id: int = 0,
    topk: int = 10,
    m: int = 4,
    k: int = 8,
    n_iters: int = 2,
    dims: int = 64,
    n_cells: int = 8,
    n_probe: int = 3,
) -> str:
    """Mirror of similarity.ivf_pq_topk: the first-n IVF coarse
    quantizer (ivf_topk_sql's assignment/probe) composed with the PQ
    retrain + ADC chain (_pq_ctes)."""
    sd = dims // m
    ctes, prev = _pq_ctes(m, k, n_iters, dims)
    return (
        f"WITH {ctes}, "
        "cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, "
        "embedding AS cvec FROM "
        f"(SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_cells})), "
        "iscored AS (SELECT e.vec_id, c.cell_id, "
        f"{_dot_sql('e.embedding', 'c.cvec')} / ({_norm_sql('e.embedding')} * "
        f"{_norm_sql('c.cvec')}) AS ccos FROM embeddings e CROSS JOIN cents c), "
        "iassign AS (SELECT vec_id, cell_id FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn "
        "FROM iscored) WHERE rn = 1), "
        "q AS (SELECT embedding AS qvec FROM embeddings "
        f"WHERE vec_id = {query_vec_id}), "
        "probe AS (SELECT cell_id FROM cents c, q ORDER BY "
        f"{_dot_sql('c.cvec', 'q.qvec')} / ({_norm_sql('c.cvec')} * "
        f"{_norm_sql('q.qvec')}) DESC, c.cell_id ASC LIMIT {n_probe}), "
        "qs AS (SELECT CAST(s AS INT) AS s, "
        f"(CAST(embedding AS DOUBLE[]))[CAST(s AS INT) * {sd} + 1 : "
        f"(CAST(s AS INT) + 1) * {sd}] AS qv "
        f"FROM embeddings, unnest(range(0, {m})) AS u(s) "
        f"WHERE vec_id = {query_vec_id}), "
        f"dt AS (SELECT c.s, c.code, list_sum(list_transform(range(1, {sd} + 1), "
        "i -> (qq.qv[i] - c.cvec[i]) * (qq.qv[i] - c.cvec[i]))) AS d "
        f"FROM {prev} c JOIN qs qq ON c.s = qq.s), "
        "cand AS (SELECT a.vec_id FROM iassign a JOIN probe p "
        f"USING (cell_id) WHERE a.vec_id <> {query_vec_id}) "
        "SELECT vec_id, round(list_sum(list(d ORDER BY s)), 6) AS adist "
        "FROM enc JOIN dt USING (s, code) JOIN cand USING (vec_id) "
        "GROUP BY vec_id "
        f"ORDER BY adist ASC, vec_id ASC LIMIT {topk}"
    )


def _temperature_ctes(total_budget: float, tau: float) -> str:
    """Shared CTEs replaying sampling.temperature_mix at tau=2/tau=1
    (the exactly-specified powers): weights sqrt(T) or T, the weight
    sum a list_sum over sources in ascending name order — the same
    IEEE addition sequence as the driver loop."""
    if tau == 2.0:
        w = "sqrt(CAST(Ti AS DOUBLE))"
    elif tau == 1.0:
        w = "CAST(Ti AS DOUBLE)"
    else:  # pragma: no cover — oracle-gated queries pin exact taus
        raise ValueError(f"oracle only mirrors tau in (1, 2), got {tau}")
    n = repr(float(total_budget))
    return (
        "t AS (SELECT doc_id, source, n_chars, CAST(len(list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) AS BIGINT) AS nt "
        "FROM documents), "
        "tot AS (SELECT source, sum(nt) AS Ti FROM t GROUP BY source), "
        f"ws AS (SELECT source, Ti, CAST(Ti AS DOUBLE) AS T, {w} AS w FROM tot), "
        "sw AS (SELECT list_sum(list(w ORDER BY source)) AS s FROM ws), "
        f"alloc AS (SELECT source, Ti, T, {n} * w / sw.s AS b FROM ws, sw)"
    )


def temperature_alloc_sql(total_budget: float, tau: float = 2.0) -> str:
    """Mirror of sampling.temperature_mix(return_alloc=True)."""
    return (
        f"WITH {_temperature_ctes(total_budget, tau)} "
        "SELECT source, CAST(Ti AS BIGINT) AS n_tokens, "
        "round(b, 6) AS budget, "
        "round(CASE WHEN Ti = 0 THEN 0.0 ELSE least(b / T, 1.0) END, 6) "
        "AS keep_rate FROM alloc"
    )


def temperature_mix_sql(total_budget: float, tau: float = 2.0) -> str:
    """Mirror of sampling.temperature_mix: the shared md5 coin against
    the unrounded per-source budget."""
    return (
        f"WITH {_temperature_ctes(total_budget, tau)} "
        "SELECT t.doc_id, t.source, t.n_chars "
        "FROM t JOIN alloc a ON t.source = a.source "
        "WHERE ('0x' || substr(md5('temp:' || CAST(t.doc_id AS VARCHAR)), "
        "1, 13))::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0 "
        "* a.T < a.b"
    )


def bpe_train_sql(num_merges: int = 16) -> str:
    """Unrolled BPE-merge training as one DuckDB query (mirrors
    ``operators.text.bpe_train``): word-count vocab, char+``</w>``
    symbol arrays, then ``num_merges`` unrolled (pairs → argmax →
    apply) CTE triples. The left-to-right merge pass is a
    ``list_reduce`` fold over a chr(31)-joined accumulator string —
    the pending-slot semantics of the Spark struct fold, encoded in
    the suffix of the accumulator (a merged token never equals the
    lhs again, so resume-after-merge falls out, exactly as in the
    engine). chr(31) cannot occur inside whitespace-split tokens.
    Tie-break matches the engine: (count DESC, lhs ASC, rhs ASC) on
    exact BIGINT counts.
    """
    sep = "chr(31)"
    parts = [
        "WITH v AS MATERIALIZED (SELECT w AS word, count(*) AS cnt FROM "
        "(SELECT unnest(regexp_split_to_array(text, '[[:space:]]+')) AS w FROM documents) "
        "WHERE w <> '' GROUP BY w),",
        "s0 AS MATERIALIZED (SELECT word, cnt, list_append(list_transform("
        "range(1, length(word) + 1), i -> substr(word, i, 1)), '</w>') AS symbols "
        "FROM v),",
    ]
    for i in range(1, num_merges + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT symbols[pi] AS l, symbols[pi + 1] AS r, sum(cnt) AS c "
            f"FROM (SELECT cnt, symbols, unnest(range(1, len(symbols))) AS pi "
            f"FROM {prev}) GROUP BY 1, 2),"
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT l, r FROM p{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1),"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT word, cnt, string_split(list_reduce(symbols, "
            f"(acc, x) -> CASE WHEN x = b.r AND (acc = b.l OR ("
            f"length(acc) > length(b.l) "
            f"AND substr(acc, length(acc) - length(b.l) + 1) = b.l "
            f"AND substr(acc, length(acc) - length(b.l), 1) = {sep})) "
            f"THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r "
            f"ELSE acc || {sep} || x END), {sep}) AS symbols "
            f"FROM {prev}, b{i} b),"
        )
    union = " UNION ALL ".join(
        f"SELECT {i} AS rank, l, r FROM b{i}" for i in range(1, num_merges + 1)
    )
    parts.append(f"merges AS ({union})")
    return (
        "\n".join(parts)
        + "\nSELECT rank, l AS lhs, r AS rhs, l || r AS merged FROM merges"
    )


def changelog_compact_sql(where: str | None = None, delete_type: str = "error") -> str:
    """Latest-wins changelog compaction over events as one window query
    (mirrors ``operators.changelog.compact_changelog``; also the
    oracle for ``apply_changelog`` — the BATCH RECOMPUTE the
    incremental path must reproduce). Independent formulation: DuckDB
    ranks with row_number over (ts DESC, event_id DESC) where the
    engine uses a max_by struct agg."""
    pred = f"WHERE {where} " if where else ""
    return (
        "WITH w AS (SELECT *, row_number() OVER (PARTITION BY user_id "
        f"ORDER BY ts DESC, event_id DESC) AS rn FROM events {pred}) "
        "SELECT user_id, event_id, ts, event_type, value, props FROM w "
        f"WHERE rn = 1 AND event_type <> '{delete_type}'"
    )


def label_propagation_sql(
    edges_sql: str = EDGES_SQL, n_rounds: int = 5
) -> str:
    """Unrolled deterministic synchronous LPA (mirrors
    ``operators.graph.label_propagation``): per round, in-neighbor
    vote counts → per-vertex argmax (votes DESC, label ASC — DuckDB
    ranks with row_number where the engine uses a min_by struct) →
    coalesce onto the full vertex set. Every l{i} is referenced twice
    (votes + carry-forward), so the CTEs are MATERIALIZED — inlining
    would double the plan per round (the bpe_train_sql lesson)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        "v AS MATERIALIZED (SELECT DISTINCT url FROM "
        "(SELECT src AS url FROM e UNION ALL SELECT dst FROM e)),",
        "l0 AS MATERIALIZED (SELECT url, url AS label FROM v),",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT e.dst AS url, l.label, count(*) AS c "
            f"FROM e JOIN l{i - 1} l ON e.src = l.url GROUP BY 1, 2),"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT url, label FROM ("
            f"SELECT url, label, row_number() OVER (PARTITION BY url "
            f"ORDER BY c DESC, label ASC) AS rn FROM m{i}) WHERE rn = 1),"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT p.url, coalesce(w.label, p.label) AS label "
            f"FROM l{i - 1} p LEFT JOIN w{i} w ON p.url = w.url),"
        )
    parts[-1] = parts[-1].rstrip(",")
    return "\n".join(parts) + f"\nSELECT url, label FROM l{n_rounds}"


def triangle_counts_sql(edges_sql: str = EDGES_SQL) -> str:
    """Per-vertex triangle counts (mirrors
    ``operators.graph.triangle_counts``) — independent formulation:
    the oracle orients canonical edges by ID (u < v) where the engine
    orients by (degree, id); both generate every triangle exactly
    once at its smallest-order apex, so the counts agree. Multiply
    -referenced CTEs are MATERIALIZED (the bpe_train_sql lesson)."""
    return (
        f"WITH e AS MATERIALIZED ({edges_sql}),\n"
        "c AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM e WHERE src <> dst),\n"
        "o AS MATERIALIZED (SELECT u AS a, v AS b FROM c),\n"
        "w AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
        "FROM o e1 JOIN o e2 ON e1.b = e2.a),\n"
        "t AS MATERIALIZED (SELECT w.a, w.b, w.c FROM w "
        "SEMI JOIN o ON w.a = o.a AND w.c = o.b),\n"
        "verts AS MATERIALIZED (SELECT DISTINCT u AS url FROM "
        "(SELECT u FROM c UNION ALL SELECT v FROM c)),\n"
        "pv AS MATERIALIZED (SELECT x AS url, count(*) AS n FROM "
        "(SELECT a AS x FROM t UNION ALL SELECT b FROM t "
        "UNION ALL SELECT c FROM t) GROUP BY x)\n"
        "SELECT verts.url, coalesce(pv.n, 0) AS triangles "
        "FROM verts LEFT JOIN pv ON verts.url = pv.url"
    )


def inverted_index_sql() -> str:
    """Positional inverted index over documents (mirrors
    ``operators.text.build_inverted_index`` with one shard per word):
    DuckDB assembles the same ``doc:pos,pos;doc:pos`` strings with
    ORDER BY string_agg where the engine sorts collected arrays.
    Positions are 0-based RAW split-slot indices (empties dropped,
    slots counted) on both sides."""
    return (
        "WITH raw AS (SELECT doc_id, arr, unnest(range(0, len(arr))) AS i "
        "FROM (SELECT doc_id, regexp_split_to_array(text, '[[:space:]]+') AS arr "
        "FROM documents)),\n"
        "tok AS (SELECT doc_id, arr[i + 1] AS w, i AS pos FROM raw "
        "WHERE arr[i + 1] <> ''),\n"
        "pd AS (SELECT w, doc_id, string_agg(CAST(pos AS VARCHAR), ',' "
        "ORDER BY pos) AS pl FROM tok GROUP BY w, doc_id)\n"
        "SELECT w AS word, count(*) AS df, 0 AS shard, "
        "string_agg(CAST(doc_id AS VARCHAR) || ':' || pl, ';' ORDER BY doc_id) "
        "AS postings FROM pd GROUP BY w"
    )


def bfs_distances_sql(
    sources: list, edges_sql: str = EDGES_SQL, n_rounds: int = 6
) -> str:
    """Unrolled multi-source BFS (mirrors ``operators.graph.
    bfs_distances``): per round, last round's frontier expands one
    directed hop, anti-joined against everything already reached.
    Frontier CTEs are referenced twice (expansion + union), so they
    are MATERIALIZED (the bpe_train_sql lesson)."""
    src_rows = " UNION ALL ".join(
        f"SELECT '{s}' AS url" for s in sorted(set(sources))
    )
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        f"d0 AS MATERIALIZED (SELECT url, 0 AS dist FROM ({src_rows})),",
        "f0 AS MATERIALIZED (SELECT url FROM d0),",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"f{i} AS MATERIALIZED (SELECT DISTINCT e.dst AS url "
            f"FROM e JOIN f{i - 1} f ON e.src = f.url "
            f"WHERE e.dst NOT IN (SELECT url FROM d{i - 1})),"
        )
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT url, dist FROM d{i - 1} "
            f"UNION ALL SELECT url, {i} AS dist FROM f{i}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    return (
        "\n".join(parts)
        + f"\nSELECT url, CAST(dist AS INT) AS dist FROM d{n_rounds}"
    )


def kcore_sql(k: int = 3, edges_sql: str = EDGES_SQL, n_rounds: int = 5) -> str:
    """Unrolled k-core peeling (mirrors ``operators.graph.kcore``):
    canonical undirected simple edges; each round keeps vertices of
    degree >= k and the edges between them; final degrees over the
    surviving subgraph."""
    parts = [
        f"WITH raw AS ({edges_sql}),",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM raw WHERE src <> dst),",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT url, count(*) AS degree FROM "
            f"(SELECT u AS url FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1}) "
            f"GROUP BY url),"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT url FROM g{i} WHERE degree >= {k}),"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT u, v FROM e{i - 1} "
            f"WHERE u IN (SELECT url FROM s{i}) "
            f"AND v IN (SELECT url FROM s{i})),"
        )
    parts[-1] = parts[-1].rstrip(",")
    return (
        "\n".join(parts)
        + f"\nSELECT url, count(*) AS degree FROM "
        f"(SELECT u AS url FROM e{n_rounds} UNION ALL SELECT v FROM e{n_rounds}) "
        "GROUP BY url"
    )


def trigram_lm_sql(add_k: float = 1.0) -> str:
    """Mirror of textstats.trigram_lm_scores over ``documents``: same
    whitespace tokens, adjacent triples, add-k smoothed conditional
    -log10, per-doc mean rounded 6."""
    k = float(add_k)
    return (
        "WITH t AS (SELECT doc_id, list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
        "FROM documents), "
        "b AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3 "
        "FROM t, unnest(range(1, len(toks) - 1)) AS u(i) WHERE len(toks) >= 3), "
        "c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM b GROUP BY 1, 2, 3), "
        "c2 AS (SELECT w1, w2, sum(c3) AS c2 FROM c3 GROUP BY 1, 2), "
        "v AS (SELECT count(DISTINCT w) AS v FROM "
        "(SELECT unnest(toks) AS w FROM t)), "
        f"s AS (SELECT w1, w2, w3, -log10((c3 + {k}) / (c2 + {k} * v)) "
        "AS sp FROM c3 JOIN c2 USING(w1, w2), v) "
        "SELECT doc_id, CAST(count(*) AS INT) AS n_trigrams, "
        "round(sum(sp) / count(*), 6) AS nll3 "
        "FROM b JOIN s USING(w1, w2, w3) GROUP BY 1"
    )


def mad_outliers_sql(quality_sql: str, cutoff: float = 3.0) -> str:
    """Mirror of textstats.mad_outliers over quality_scores output:
    per-source exact median + MAD (DuckDB ``median`` = the
    interpolated exact percentile Spark's ``percentile(0.5)``
    computes), flag on rounded deviations. ``quality_sql`` must yield
    ``(doc_id, quality)``."""
    c = float(cutoff)
    return (
        f"WITH q AS (SELECT doc_id, quality FROM ({quality_sql}) z), "
        "s AS (SELECT q.doc_id, d.source, q.quality AS score FROM q "
        "JOIN documents d ON q.doc_id = d.doc_id), "
        "m AS (SELECT source, median(score) AS med FROM s GROUP BY source), "
        "dv AS (SELECT s.doc_id, s.source, s.score, abs(s.score - m.med) AS dev "
        "FROM s JOIN m ON s.source = m.source), "
        "mad AS (SELECT source, round(median(dev), 6) AS mad FROM dv "
        "GROUP BY source) "
        "SELECT dv.doc_id, dv.source, dv.score, round(dv.dev, 6) AS dev, "
        f"round(dv.dev, 6) > {c} * mad.mad AS is_outlier "
        "FROM dv JOIN mad ON dv.source = mad.source"
    )


def sssp_weighted_sql(
    sources: list, edges_sql: str, n_rounds: int = 4
) -> str:
    """Unrolled multi-source Bellman-Ford (mirrors ``operators.graph.
    sssp_weighted``): per round the full distance table relaxes across
    every edge; min per vertex. ``edges_sql`` must yield
    ``(src, dst, w)``."""
    src_rows = " UNION ALL ".join(
        f"SELECT '{s}' AS url" for s in sorted(set(sources))
    )
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        f"d0 AS MATERIALIZED (SELECT url, 0.0 AS dist FROM ({src_rows})),",
    ]
    for i in range(1, n_rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT url, min(dist) AS dist FROM ("
            f"SELECT url, dist FROM d{i - 1} "
            f"UNION ALL "
            f"SELECT e.dst AS url, d.dist + e.w AS dist "
            f"FROM e JOIN d{i - 1} d ON e.src = d.url) GROUP BY url),"
        )
    parts[-1] = parts[-1].rstrip(",")
    return (
        "\n".join(parts)
        + f"\nSELECT url, round(dist, 6) AS dist FROM d{n_rounds}"
    )


def clustering_coefficients_sql(edges_sql: str = EDGES_SQL) -> str:
    """Mirror of ``operators.graph.clustering_coefficients``: triangle
    counts (the independent id-oriented formulation of
    ``triangle_counts_sql``) joined with canonical simple degrees;
    2T/(d(d-1)) rounded 6, degree <= 1 reports 0.0."""
    return (
        f"WITH tri AS (SELECT * FROM ({triangle_counts_sql(edges_sql)}) t), "
        f"raw AS ({edges_sql}), "
        "c AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v "
        "FROM raw WHERE src <> dst), "
        "deg AS (SELECT url, count(*) AS degree FROM "
        "(SELECT u AS url FROM c UNION ALL SELECT v FROM c) GROUP BY url) "
        "SELECT tri.url, coalesce(deg.degree, 0) AS degree, tri.triangles, "
        "round(CASE WHEN coalesce(deg.degree, 0) >= 2 THEN "
        "2.0 * tri.triangles / (deg.degree * (deg.degree - 1)) "
        "ELSE 0.0 END, 6) AS clustering "
        "FROM tri LEFT JOIN deg ON tri.url = deg.url"
    )


def bipartite_projection_sql(
    edges_sql: str, min_shared: int = 2, max_right_degree: int = 64
) -> str:
    """Mirror of ``operators.graph.bipartite_projection``: dedup
    edges, drop right vertices above the degree cap, pair left
    vertices through shared right vertices, count."""
    return (
        f"WITH raw AS ({edges_sql}), "
        "ded AS (SELECT DISTINCT src, dst FROM raw), "
        "rdeg AS (SELECT dst, count(*) AS d FROM ded GROUP BY dst), "
        f"kept AS (SELECT ded.src, ded.dst FROM ded JOIN rdeg "
        f"ON ded.dst = rdeg.dst WHERE rdeg.d <= {int(max_right_degree)}) "
        "SELECT x.src AS a, y.src AS b, count(*) AS shared "
        "FROM kept x JOIN kept y ON x.dst = y.dst AND x.src < y.src "
        f"GROUP BY 1, 2 HAVING count(*) >= {int(min_shared)}"
    )


def edit_verified_dups_sql(
    max_dist: int = 20,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 5,
) -> str:
    """Mirror of ``operators.dedup.edit_verified_dups``: the minhash
    candidate pairs re-checked with DuckDB's full ``levenshtein``
    (the engine's banded kernel returns the same distance for every
    pair within the bound, -1 past it — filtering keeps the same
    set)."""
    pairs = minhash_near_dups_sql(
        threshold, num_hashes=num_hashes, bands=bands, ngram=ngram
    )
    return (
        f"WITH pr AS (SELECT doc_a, doc_b FROM ({pairs}) p) "
        "SELECT pr.doc_a, pr.doc_b, "
        "levenshtein(a.text, b.text) AS edit_dist "
        "FROM pr JOIN documents a ON pr.doc_a = a.doc_id "
        "JOIN documents b ON pr.doc_b = b.doc_id "
        f"WHERE levenshtein(a.text, b.text) <= {int(max_dist)}"
    )


def bpe_fertility_sql() -> str:
    """Mirror of ``operators.text.bpe_fertility`` over ``documents``:
    per-source doc/word/piece/char sums (BIGINT-cast — the HUGEINT
    hash-mismatch lesson) and the fertility / chars-per-piece ratios
    of those exact integers, rounded 6."""
    return (
        f"{_bpe_docpieces_ctes()}, "
        "w AS (SELECT doc_id, len(toks) AS nw FROM t), "
        "p AS (SELECT doc_id, len(toks) AS np FROM docpieces), "
        "d AS (SELECT doc_id, source, length(text) AS nc FROM documents), "
        "g AS (SELECT d.source, count(*) AS n_docs, "
        "CAST(sum(w.nw) AS BIGINT) AS n_words, "
        "CAST(sum(p.np) AS BIGINT) AS n_pieces, "
        "CAST(sum(d.nc) AS BIGINT) AS n_chars "
        "FROM d JOIN w ON d.doc_id = w.doc_id JOIN p ON d.doc_id = p.doc_id "
        "GROUP BY d.source) "
        "SELECT source, n_docs, n_words, n_pieces, n_chars, "
        "round(CASE WHEN n_words > 0 THEN CAST(n_pieces AS DOUBLE) / n_words "
        "ELSE 0.0 END, 6) AS fertility, "
        "round(CASE WHEN n_pieces > 0 THEN CAST(n_chars AS DOUBLE) / n_pieces "
        "ELSE 0.0 END, 6) AS chars_per_piece FROM g"
    )


def _dec_str_sql(x: str, scale: int = 6) -> str:
    """Fixed-scale decimal string of a double — the array-element hash
    form (both engines render DECIMAL(18,s) as plain fixed-scale text,
    unlike raw doubles whose shortest-round-trip formatting diverges
    at >= 1e7)."""
    return f"CAST(CAST({x} AS DECIMAL(18,{scale})) AS VARCHAR)"


def truncate_embeddings_sql(dims: int = 16, renorm: bool = True) -> str:
    """Mirror of ``operators.embeddings.truncate_embeddings`` over
    ``embeddings``, in the hash-gate string form: the first ``dims``
    coordinates (1-based inclusive slice — same semantics as Spark's
    ``F.slice``), optionally re-L2-normalized, each element rendered as
    a fixed-scale DECIMAL(18,6) string and comma-joined."""
    sl = (
        f"list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, {dims}), "
        "x -> CAST(x AS DOUBLE))"
    )
    if renorm:
        body = (
            f"WITH s AS (SELECT vec_id, {sl} AS v FROM embeddings), "
            "n AS (SELECT vec_id, v, "
            "sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM s) "
            "SELECT vec_id, array_to_string(list_transform("
            "CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm) ELSE v END, "
            f"x -> {_dec_str_sql('x')}), ',') AS emb FROM n"
        )
    else:
        body = (
            "SELECT vec_id, array_to_string(list_transform("
            f"{sl}, x -> {_dec_str_sql('x')}), ',') AS emb FROM embeddings"
        )
    return body


def truncated_emb_sql(dims: int = 16, renorm: bool = True) -> str:
    """The matryoshka-truncated ``(vec_id, embedding)`` SOURCE subquery
    (list form, not the hash-string render of
    ``truncate_embeddings_sql``) — plugs into ``semdedup_sql`` /
    ANN oracles as ``emb_sql``. Same arithmetic as
    ``operators.embeddings.truncate_embeddings``: 1-based inclusive
    slice, ``sqrt(list_sum(x*x))`` norm (bit-matching the engine's
    sequential fold on these values — the truncate parity gate), zero
    norms left unscaled."""
    sl = (
        f"list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, {dims}), "
        "x -> CAST(x AS DOUBLE))"
    )
    if not renorm:
        return f"SELECT vec_id, {sl} AS embedding FROM embeddings"
    return (
        "SELECT vec_id, CASE WHEN nrm > 0 THEN "
        "list_transform(v, x -> x / nrm) ELSE v END AS embedding FROM "
        "(SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) "
        f"AS nrm FROM (SELECT vec_id, {sl} AS v FROM embeddings) s0) s1"
    )


def training_shards_sql(
    budget: int = 512,
    bins_per_shard: int = 64,
    seed: str = "torder",
) -> str:
    """Mirror of ``programs.build_training_shards`` (no clean stage,
    ``ws`` tokenizer, ``shuffle_seed=seed``) over ``documents``: the
    MANIFEST ``(shard, n_bins, n_tokens, doc_segments)``. Recomputes
    the full composition — seeded training order renumbers docs, the
    packed_bins prefix-sum layout keyed on position, shard = bin_id
    div bins_per_shard — so the driver certifies the PROGRAM's write
    end-to-end, not just its stages."""
    order = training_order_sql(seed)
    return (
        f"WITH ord AS ({order}), "
        "ren AS (SELECT o.position AS doc_id, d.text FROM documents d "
        "JOIN ord o ON d.doc_id = o.doc_id), "
        "t AS (SELECT doc_id, list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
        "FROM ren), "
        "c AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t), "
        "p AS (SELECT doc_id, toks, CAST(sum(n) OVER "
        "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n AS gs "
        "FROM c), "
        "tok AS (SELECT doc_id, gs + i - 1 AS gpos, toks[i] AS tok "
        "FROM p, unnest(range(1, len(toks) + 1)) AS u(i)), "
        f"bins AS (SELECT gpos // {int(budget)} AS bin_id, "
        "count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs "
        f"FROM tok GROUP BY gpos // {int(budget)}) "
        f"SELECT CAST(bin_id // {int(bins_per_shard)} AS INT) AS shard, "
        "count(*) AS n_bins, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, "
        "CAST(sum(n_docs) AS BIGINT) AS doc_segments "
        f"FROM bins GROUP BY CAST(bin_id // {int(bins_per_shard)} AS INT)"
    )


def mean_pool_sql(dims: int = 64, group_col: str = "label") -> str:
    """Mirror of ``operators.embeddings.mean_pool_embeddings(exact=
    True)`` over ``embeddings``: per group, the bit-deterministic
    sequential-fold mean over vec_id-sorted members (the
    ``ivf_topk_lloyd`` exact-mean fold), rendered as the comma-joined
    DECIMAL(18,6) hash form."""
    return (
        f"WITH g AS (SELECT {group_col}, count(*) AS n, "
        "list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms "
        f"FROM embeddings GROUP BY {group_col}) "
        f"SELECT {group_col}, n, array_to_string(list_transform("
        f"list_transform(range(1, {dims + 1}), d -> "
        "list_reduce(list_transform(ms, m -> m[d]), (a, b) -> a + b) / len(ms)), "
        f"x -> {_dec_str_sql('x')}), ',') AS centroid FROM g"
    )


def embedding_gram_sql(dims: int = 64) -> str:
    """Mirror of ``operators.embeddings.embedding_gram(exact=True)``
    over ``embeddings``: upper-triangle (0-based i <= j) cells of
    X^T X, each cell the sequential fold over vec_id-ordered per-row
    products (exact in double: float32 x float32 is lossless in
    float64), rounded 6."""
    return (
        "WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "p AS (SELECT b.vec_id, i.range AS i, j.range AS j, "
        "b.v[CAST(i.range AS INT) + 1] * b.v[CAST(j.range AS INT) + 1] AS p "
        f"FROM base b, range(0, {dims}) i, range(0, {dims}) j "
        "WHERE j.range >= i.range) "
        "SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, "
        "round(list_reduce(list_prepend(0.0, list(p ORDER BY vec_id)), "
        "(a, b) -> a + b), 6) AS g "
        "FROM p GROUP BY i, j"
    )


def training_order_sql(seed: str = "torder") -> str:
    """Mirror of ``operators.sampling.training_order`` over
    ``documents``: the 1-based rank under the seeded 52-bit md5 coin
    (identical IEEE arithmetic to the samplers), ties by doc_id."""
    return (
        "SELECT doc_id, row_number() OVER (ORDER BY u, doc_id) AS position "
        "FROM (SELECT doc_id, "
        f"('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 13))"
        "::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0 AS u FROM documents)"
    )


def profile_table_sql(table: str, columns: list[str]) -> str:
    """Mirror of ``operators.relational.profile_table(exact=True)``: a
    UNION ALL of per-column profile rows. min/max are typed, then cast
    to VARCHAR — callers pick columns whose string rendering agrees
    across engines (BIGINT/VARCHAR/TIMESTAMP/DATE, doubles < 1e7; a
    raw double >= 1e7 renders as 1.0E7 in Spark vs 10000000.0 in
    DuckDB)."""
    parts = [
        f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
        f"count(*) - count({c}) AS n_nulls, "
        f"count(DISTINCT {c}) AS n_distinct, "
        f"CAST(min({c}) AS VARCHAR) AS min_value, "
        f"CAST(max({c}) AS VARCHAR) AS max_value FROM {table}"
        for c in columns
    ]
    return " UNION ALL ".join(parts)


def curriculum_order_sql(
    boundaries: list[float] | None = None,
    seed: str = "curriculum",
    descending: bool = True,
) -> str:
    """Mirror of ``operators.sampling.curriculum_order`` over
    ``documents`` scored by ``n_chars``: stage = threshold-count
    (re-indexed so stage 0 trains first), position = row_number over
    (stage, seeded 52-bit coin, doc_id)."""
    bs = boundaries if boundaries is not None else [200.0, 500.0]
    # CASE (not a raw CAST of the comparison): NULL-safe like the
    # operator — a NULL score lands in the lowest-score stage
    raw = " + ".join(
        f"(CASE WHEN n_chars >= {float(b)} THEN 1 ELSE 0 END)" for b in bs
    )
    stage = f"({len(bs)} - ({raw}))" if descending else f"({raw})"
    return (
        "SELECT doc_id, stage, "
        "row_number() OVER (ORDER BY stage, u, doc_id) AS position "
        f"FROM (SELECT doc_id, CAST({stage} AS INT) AS stage, "
        f"('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 13))"
        "::UBIGINT::BIGINT::DOUBLE / 4503599627370496.0 AS u FROM documents)"
    )


def profile_drift_sql(
    table: str,
    columns: list[str],
    old_where: str,
    new_where: str = "1=1",
) -> str:
    """Mirror of ``operators.relational.profile_drift(exact=True)``
    between two predicate-defined snapshots of ``table``."""

    def prof(where: str) -> str:
        return " UNION ALL ".join(
            f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
            f"count(*) - count({c}) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"CAST(min({c}) AS VARCHAR) AS min_value, "
            f"CAST(max({c}) AS VARCHAR) AS max_value "
            f"FROM {table} WHERE {where}"
            for c in columns
        )

    rate_o = (
        "CASE WHEN o.n_rows > 0 THEN "
        "CAST(o.n_nulls AS DOUBLE) / CAST(o.n_rows AS DOUBLE) ELSE 0.0 END"
    )
    rate_n = (
        "CASE WHEN n.n_rows > 0 THEN "
        "CAST(n.n_nulls AS DOUBLE) / CAST(n.n_rows AS DOUBLE) ELSE 0.0 END"
    )
    return (
        f"WITH po AS ({prof(old_where)}), pn AS ({prof(new_where)}) "
        "SELECT o.col_name, o.n_rows AS n_rows_old, n.n_rows AS n_rows_new, "
        "o.n_nulls AS n_nulls_old, n.n_nulls AS n_nulls_new, "
        "o.n_distinct AS n_distinct_old, n.n_distinct AS n_distinct_new, "
        f"round({rate_n} - {rate_o}, 6) AS null_rate_delta, "
        "((o.min_value IS DISTINCT FROM n.min_value) OR "
        "(o.max_value IS DISTINCT FROM n.max_value)) AS range_changed "
        "FROM po o JOIN pn n ON o.col_name = n.col_name"
    )


def bigram_pmi_sql(min_count: int = 2) -> str:
    """Mirror of ``textstats.bigram_pmi`` over ``documents``: bigram
    counts, left/right marginals of the bigram table, N = total bigram
    occurrences, pmi = log10(c2*N/(cl*cr)) rounded 6."""
    return (
        "WITH t AS (SELECT doc_id, list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS toks "
        "FROM documents), "
        "b AS (SELECT toks[i] AS w1, toks[i+1] AS w2 FROM t, "
        "unnest(range(1, len(toks))) AS u(i) WHERE len(toks) >= 2), "
        "c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2), "
        "n AS (SELECT CAST(sum(c2) AS DOUBLE) AS n FROM c2), "
        "cl AS (SELECT w1, sum(c2) AS cl FROM c2 GROUP BY 1), "
        "cr AS (SELECT w2, sum(c2) AS cr FROM c2 GROUP BY 1) "
        "SELECT c2.w1, c2.w2, c2.c2, "
        "round(log10((CAST(c2.c2 AS DOUBLE) * n.n) / "
        "(CAST(cl.cl AS DOUBLE) * CAST(cr.cr AS DOUBLE))), 6) AS pmi "
        "FROM c2 JOIN cl USING(w1) JOIN cr USING(w2), n "
        f"WHERE c2.c2 >= {int(min_count)}"
    )


def key_skew_report_sql(
    table: str, key_cols: list[str], top_n: int = 20
) -> str:
    """Mirror of ``operators.relational.key_skew_report``."""
    keys = ", ".join(key_cols)
    tie = ", ".join(f"{k} ASC" for k in key_cols)
    return (
        f"WITH c AS (SELECT {keys}, count(*) AS n_rows FROM {table} "
        f"GROUP BY {keys}), t AS (SELECT CAST(sum(n_rows) AS DOUBLE) "
        "AS t FROM c) "
        f"SELECT {keys}, n_rows, "
        "round(CAST(n_rows AS DOUBLE) / t.t, 6) AS share FROM c, t "
        f"ORDER BY n_rows DESC, {tie} LIMIT {int(top_n)}"
    )


def source_centrality_sql(
    sources: list, edges_sql: str = EDGES_SQL, n_rounds: int = 6
) -> str:
    """Mirror of ``operators.graph.source_centrality``: per source, the
    unrolled-BFS distance table aggregated to reached-count, harmonic
    (decimal-exact reciprocal sum, rounded 6) and closeness."""
    parts = []
    for s in sorted(set(sources)):
        bfs = bfs_distances_sql([s], edges_sql, n_rounds)
        parts.append(
            f"SELECT '{s}' AS source, "
            "CAST(count(*) AS BIGINT) AS n_reached, "
            "round(CAST(coalesce(sum(CAST(1.0 / dist AS DECIMAL(18,12))), 0) "
            "AS DOUBLE), 6) AS harmonic, "
            "round(CASE WHEN count(*) > 0 THEN CAST(count(*) AS DOUBLE) / "
            "CAST(sum(dist) AS DOUBLE) ELSE 0.0 END, 6) AS closeness "
            f"FROM ({bfs}) d WHERE dist > 0"
        )
    return " UNION ALL ".join(parts)


def validate_table_sql(table: str, rules: dict[str, str]) -> str:
    """Mirror of ``operators.relational.validate_table``: per rule one
    conditional count over the same scan (UNION ALL of aggregates in
    SQL; the engine folds them into one pass via the explode trick)."""
    parts = [
        f"SELECT '{name}' AS rule, count(*) AS n_rows, "
        # BIGINT cast: DuckDB's sum() is HUGEINT, which lands as
        # float64 in pandas and hash-mismatches Spark's long
        f"CAST(coalesce(sum(CASE WHEN ({expr}) THEN 0 ELSE 1 END), 0) "
        "AS BIGINT) AS n_violations, "
        "round(CASE WHEN count(*) > 0 THEN "
        f"CAST(coalesce(sum(CASE WHEN ({expr}) THEN 0 ELSE 1 END), 0) "
        "AS DOUBLE) / count(*) ELSE 0.0 END, 6) AS violation_rate "
        f"FROM {table}"
        for name, expr in rules.items()
    ]
    return " UNION ALL ".join(parts)


def chunk_sentences_sql(window: int = 5, stride: int = 4) -> str:
    """Mirror of ``operators.text.chunk_sentences`` over ``documents``
    (the doc_chunks SQL with the punctuation-consuming sentence split
    and single-space join)."""
    w, s = int(window), int(stride)
    return (
        "WITH t AS (SELECT doc_id, list_filter("
        r"regexp_split_to_array(text, '[.!?]+[[:space:]]+'), x -> x <> '') AS sents "
        "FROM documents), "
        "c AS (SELECT doc_id, sents, len(sents) AS n FROM t WHERE len(sents) > 0), "
        "e AS (SELECT doc_id, sents, CAST(unnest(range(0, "
        f"CAST(least(1 + floor((greatest(n - {w}, 0) + {s - 1}) / {s}.0), "
        f"1 + floor((n - 1) / {s}.0)) AS BIGINT))) AS INT) AS chunk_id FROM c) "
        "SELECT doc_id, chunk_id, "
        f"array_to_string(sents[chunk_id*{s} + 1 : chunk_id*{s} + {w}], ' ') AS chunk, "
        f"CAST(len(sents[chunk_id*{s} + 1 : chunk_id*{s} + {w}]) AS INT) "
        "AS n_sentences FROM e"
    )


def cluster_top_terms_sql(
    n_cells: int = 8, k: int = 5, weighting: str = "count"
) -> str:
    """Mirror of ``operators.embeddings.cluster_top_terms`` over
    ``documents`` x ``embeddings`` (first-n seed centroids — the
    ``ivf_topk_sql`` assignment CTE — then per-cell token counts and a
    deterministic top-k)."""
    return (
        "WITH cents AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, "
        "embedding AS cvec FROM (SELECT * FROM embeddings ORDER BY vec_id "
        f"LIMIT {n_cells})), "
        "scored AS (SELECT e.vec_id, c.cell_id, "
        f"{_dot_sql('e.embedding', 'c.cvec')} / ({_norm_sql('e.embedding')} * "
        f"{_norm_sql('c.cvec')}) AS ccos FROM embeddings e CROSS JOIN cents c), "
        "assign AS (SELECT vec_id, cell_id FROM (SELECT *, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn FROM scored) "
        "WHERE rn = 1), "
        "w AS (SELECT a.cell_id, unnest(list_filter("
        r"regexp_split_to_array(lower(d.text), '[[:space:]]+'), x -> x <> '')) AS word "
        "FROM documents d JOIN assign a ON d.doc_id = a.vec_id), "
        "c2 AS (SELECT cell_id, word, count(*) AS cnt FROM w GROUP BY 1, 2) "
        + (
            "SELECT cell_id, word, cnt, CAST(rn AS INT) AS rn FROM "
            "(SELECT *, row_number() OVER (PARTITION BY cell_id "
            "ORDER BY cnt DESC, word ASC) AS rn FROM c2) "
            f"WHERE rn <= {int(k)}"
            if weighting == "count"
            else (
                ", dfc AS (SELECT word, count(*) AS dfc FROM c2 GROUP BY 1), "
                "nc AS (SELECT CAST(count(DISTINCT cell_id) AS DOUBLE) AS nc FROM c2), "
                "sc AS (SELECT c2.cell_id, c2.word, c2.cnt, "
                "round(c2.cnt * log10(1.0 + nc.nc / dfc.dfc), 6) AS score "
                "FROM c2 JOIN dfc USING (word), nc) "
                "SELECT cell_id, word, cnt, score, CAST(rn AS INT) AS rn FROM "
                "(SELECT *, row_number() OVER (PARTITION BY cell_id "
                "ORDER BY score DESC, word ASC) AS rn FROM sc) "
                f"WHERE rn <= {int(k)}"
            )
        )
    )


def _winnow_sel_ctes(k: int = 5, w: int = 4) -> str:
    """Shared winnowing CTE prefix: ``sel(doc_id, pos, fp)`` = the
    distinct simple-winnowing selections over documents (rightmost
    minimal 60-bit md5 gram hash per w-window; <= keeps ties rightmost
    in the left fold exactly like the engine's aggregate)."""
    big = (1 << 62) - 1
    return (
        "c AS (SELECT doc_id, "
        r"lower(regexp_replace(text, '[[:space:]]+', '', 'g')) AS ch FROM documents), "
        f"h AS (SELECT doc_id, CASE WHEN length(ch) >= {k} THEN "
        f"list_transform(range(1, length(ch) - {k} + 2), i -> "
        f"('0x' || substr(md5(substr(ch, CAST(i AS INT), {k})), 1, 15))"
        "::UBIGINT::BIGINT) ELSE CAST([] AS BIGINT[]) END AS H FROM c), "
        f"sel0 AS (SELECT doc_id, unnest(CASE WHEN len(H) >= {w} THEN "
        f"list_transform(range(1, len(H) - {w} + 2), j -> "
        f"list_reduce(list_prepend("
        f"struct_pack(fp := CAST({big} AS BIGINT), pos := CAST(-1 AS BIGINT)), "
        f"list_transform(range(0, {w}), t -> struct_pack("
        "fp := H[CAST(j + t AS INT)], pos := CAST(j + t - 1 AS BIGINT)))), "
        "(a, b) -> CASE WHEN b.fp <= a.fp THEN b ELSE a END)) "
        "ELSE [] END) AS s FROM h), "
        "sel AS (SELECT DISTINCT doc_id, s.pos AS pos, s.fp AS fp FROM sel0)"
    )


def winnow_fingerprints_sql(k: int = 5, w: int = 4) -> str:
    """Mirror of ``operators.dedup.winnow_fingerprints`` over
    ``documents``."""
    return f"WITH {_winnow_sel_ctes(k, w)} SELECT doc_id, pos, fp FROM sel"


def winnow_matches_sql(
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
    normalize: bool = False,
) -> str:
    """Mirror of ``operators.dedup.winnow_matches`` over ``documents``."""
    cap = (
        "f AS (SELECT doc_id, fp FROM f0 JOIN (SELECT fp FROM f0 GROUP BY fp "
        f"HAVING count(*) <= {max_fp_df}) g USING (fp)) "
        if max_fp_df is not None
        else "f AS (SELECT doc_id, fp FROM f0) "
    )
    return (
        f"WITH {_winnow_sel_ctes(k, w)}, "
        "f0 AS (SELECT DISTINCT doc_id, fp FROM sel), "
        + cap
        + (
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "count(*) AS shared FROM f a JOIN f b ON a.fp = b.fp "
            "AND a.doc_id < b.doc_id GROUP BY 1, 2 "
            f"HAVING count(*) >= {int(min_shared)}"
            if not normalize
            else (
                ", p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
                "count(*) AS shared FROM f a JOIN f b ON a.fp = b.fp "
                "AND a.doc_id < b.doc_id GROUP BY 1, 2 "
                f"HAVING count(*) >= {int(min_shared)}), "
                "tot AS (SELECT doc_id, count(*) AS t FROM f GROUP BY 1) "
                "SELECT p.doc_a, p.doc_b, p.shared, "
                "round(CAST(p.shared AS DOUBLE) / ta.t, 6) AS sim_a, "
                "round(CAST(p.shared AS DOUBLE) / tb.t, 6) AS sim_b "
                "FROM p JOIN tot ta ON p.doc_a = ta.doc_id "
                "JOIN tot tb ON p.doc_b = tb.doc_id"
            )
        )
    )


def group_compactness_sql(dims: int = 64, group_col: str = "label") -> str:
    """Mirror of ``operators.embeddings.group_compactness(exact=True)``
    over ``embeddings``: exact-fold centroids, per-member cosine,
    decimal(18,12)-exact cosine sums, mean rounded 6."""
    cent = (
        f"SELECT {group_col}, list_transform(range(1, {dims + 1}), d -> "
        "list_reduce(list_transform(ms, m -> m[d]), (a, b) -> a + b) / len(ms)) "
        f"AS centroid FROM (SELECT {group_col}, "
        "list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS ms "
        f"FROM embeddings GROUP BY {group_col})"
    )
    return (
        f"WITH c AS ({cent}), "
        f"j AS (SELECT e.{group_col}, CAST(CASE WHEN "
        f"{_norm_sql('e.embedding')} > 0 AND {_norm_sql('c.centroid')} > 0 "
        f"THEN {_dot_sql('e.embedding', 'c.centroid')} / "
        f"({_norm_sql('e.embedding')} * {_norm_sql('c.centroid')}) "
        "ELSE 0.0 END AS DECIMAL(18,12)) AS cc "
        f"FROM embeddings e JOIN c ON e.{group_col} = c.{group_col}) "
        f"SELECT {group_col}, count(*) AS n, "
        "round(CAST(sum(cc) AS DOUBLE) / count(*), 6) AS mean_cos "
        f"FROM j GROUP BY {group_col}"
    )


def value_histogram_sql(
    table: str, value_col: str, bucket_width: float = 100.0
) -> str:
    """Mirror of ``operators.relational.value_histogram``."""
    w = float(bucket_width)
    if w == int(w):
        b = (
            f"CAST(floor(CAST({value_col} AS DECIMAL(38,6)) / {int(w)}) "
            f"* {int(w)} AS DOUBLE)"
        )
    else:
        b = f"floor(CAST({value_col} AS DOUBLE) / {w}) * {w}"
    return (
        f"SELECT {b} AS bucket_start, count(*) AS n "
        f"FROM {table} GROUP BY 1"
    )


def cluster_report_sql(
    n_cells: int = 8,
    n_iters: int = 2,
    k_terms: int = 5,
    weighting: str = "ctfidf",
    dims: int = 64,
) -> str:
    """Mirror of ``programs.cluster_report(exact=True)``: the
    ``ivf_topk_lloyd_sql`` centroid unroll (first-n seed, argmax-cosine
    assignment with ties to the lowest cell, bit-deterministic
    id-ordered mean folds, empty cells keep their centroid) feeding
    BOTH report branches off ONE ``assign`` CTE — per-cell
    exact-fold member-centroid compactness (``group_compactness_sql``
    over the assignment) and the top-``k_terms`` token label
    (``cluster_top_terms_sql`` ranking), concatenated rank-ordered via
    ``string_agg(word, ' ' ORDER BY rn)``."""
    parts = [
        "WITH seed AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell_id, "
        "CAST(embedding AS DOUBLE[]) AS cvec FROM "
        f"(SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_cells})), "
        "base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, "
        f"{_norm_sql('embedding')} AS vnorm FROM embeddings), "
    ]
    prev = "seed"
    for t in range(n_iters):
        parts.append(
            f"sc{t} AS (SELECT b.vec_id, b.vec, b.vnorm, c.cell_id, "
            f"{_dot_sql('b.vec', 'c.cvec')} / (b.vnorm * {_norm_sql('c.cvec')}) "
            f"AS ccos FROM base b CROSS JOIN {prev} c), "
            f"as{t} AS (SELECT vec_id, vec, cell_id FROM (SELECT *, row_number() "
            f"OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell_id ASC) AS rn "
            f"FROM sc{t}) WHERE rn = 1), "
            f"mean{t} AS (SELECT cell_id, list_transform(range(1, {dims + 1}), "
            "d -> list_reduce(list_transform(ms, m -> m[d]), (a, b) -> a + b) "
            "/ len(ms)) AS mvec FROM (SELECT cell_id, "
            f"list(vec ORDER BY vec_id) AS ms FROM as{t} GROUP BY cell_id)), "
            f"cents{t + 1} AS (SELECT p.cell_id, coalesce(m.mvec, p.cvec) AS cvec "
            f"FROM {prev} p LEFT JOIN mean{t} m ON p.cell_id = m.cell_id), "
        )
        prev = f"cents{t + 1}"
    rank_expr = (
        "ORDER BY cnt DESC, word ASC"
        if weighting == "count"
        else "ORDER BY score DESC, word ASC"
    )
    score_ctes = (
        ""
        if weighting == "count"
        else (
            "dfc AS (SELECT word, count(*) AS dfc FROM c2 GROUP BY 1), "
            "nc AS (SELECT CAST(count(DISTINCT cell_id) AS DOUBLE) AS nc FROM c2), "
            "sc AS (SELECT c2.cell_id, c2.word, c2.cnt, "
            "round(c2.cnt * log10(1.0 + nc.nc / dfc.dfc), 6) AS score "
            "FROM c2 JOIN dfc USING (word), nc), "
        )
    )
    ranked_src = "c2" if weighting == "count" else "sc"
    parts.append(
        "scored AS (SELECT b.vec_id, b.vec, b.vnorm, c.cell_id, "
        f"{_dot_sql('b.vec', 'c.cvec')} / (b.vnorm * {_norm_sql('c.cvec')}) "
        f"AS ccos FROM base b CROSS JOIN {prev} c), "
        "assign AS (SELECT vec_id, vec, vnorm, cell_id FROM (SELECT *, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, "
        "cell_id ASC) AS rn FROM scored) WHERE rn = 1), "
        # compactness: EXACT-FOLD member centroid per cell (id-ordered
        # sequential sums — group_compactness_sql with the assignment
        # as the member table), decimal-exact cosine mean rounded 6
        f"ccent AS (SELECT cell_id, list_transform(range(1, {dims + 1}), "
        "d -> list_reduce(list_transform(ms, m -> m[d]), (a, b) -> a + b) "
        "/ len(ms)) AS centroid FROM (SELECT cell_id, "
        "list(vec ORDER BY vec_id) AS ms FROM assign GROUP BY cell_id)), "
        "cj AS (SELECT a.cell_id, CAST(CASE WHEN a.vnorm > 0 AND "
        f"{_norm_sql('c.centroid')} > 0 THEN "
        f"{_dot_sql('a.vec', 'c.centroid')} / (a.vnorm * "
        f"{_norm_sql('c.centroid')}) ELSE 0.0 END AS DECIMAL(18,12)) AS cc "
        "FROM assign a JOIN ccent c USING (cell_id)), "
        "comp AS (SELECT cell_id, count(*) AS n, "
        "round(CAST(sum(cc) AS DOUBLE) / count(*), 6) AS mean_cos "
        "FROM cj GROUP BY cell_id), "
        "w AS (SELECT a.cell_id, unnest(list_filter("
        "regexp_split_to_array(lower(d.text), '[[:space:]]+'), "
        "x -> x <> '')) AS word "
        "FROM documents d JOIN assign a ON d.doc_id = a.vec_id), "
        "c2 AS (SELECT cell_id, word, count(*) AS cnt FROM w GROUP BY 1, 2), "
        + score_ctes
        + "topk AS (SELECT cell_id, word, rn FROM (SELECT *, row_number() "
        f"OVER (PARTITION BY cell_id {rank_expr}) AS rn FROM {ranked_src}) "
        f"WHERE rn <= {int(k_terms)}), "
        "lbl AS (SELECT cell_id, string_agg(word, ' ' ORDER BY rn) AS label "
        "FROM topk GROUP BY cell_id) "
        "SELECT comp.cell_id, comp.n, comp.mean_cos, "
        "coalesce(lbl.label, '') AS label "
        "FROM comp LEFT JOIN lbl USING (cell_id)"
    )
    return "".join(parts)


def contamination_spans_sql(
    train_where: str, bench_where: str, ngram: int = 8
) -> str:
    """Mirror of ``contamination.contamination_spans`` over a
    WHERE-split of ``documents``: positional train shingles, distinct
    bench shingle set, semi-join, gaps-and-islands merge of leaked
    positions into inclusive token spans."""
    n = int(ngram)
    pos_sh = (
        f"unnest(CASE WHEN len(a) >= {n} THEN "
        f"list_transform(range(1, len(a) - {n} + 2), i -> "
        "struct_pack(pos := CAST(i - 1 AS BIGINT), "
        f"sh := array_to_string(a[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' '))) "
        "ELSE [] END)"
    )
    return (
        "WITH toks AS (SELECT doc_id, list_filter("
        "regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '') AS a "
        "FROM documents), "
        f"occ AS (SELECT doc_id, s.pos AS pos, s.sh AS shingle FROM "
        f"(SELECT doc_id, {pos_sh} AS s FROM toks "
        f"WHERE {train_where}) z), "
        f"bsh AS (SELECT DISTINCT s.sh AS shingle FROM "
        f"(SELECT doc_id, {pos_sh} AS s FROM toks "
        f"WHERE {bench_where}) z), "
        "hits AS (SELECT o.doc_id, o.pos FROM occ o "
        "JOIN bsh b ON o.shingle = b.shingle), "
        "fl AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER "
        "(PARTITION BY doc_id ORDER BY pos) IS NULL OR pos > lag(pos) "
        f"OVER (PARTITION BY doc_id ORDER BY pos) + {n} THEN 1 ELSE 0 END "
        "AS ni FROM hits), "
        "g AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id "
        "ORDER BY pos) AS island FROM fl) "
        "SELECT doc_id, start_tok, end_tok, n_grams FROM "
        "(SELECT doc_id, island, min(pos) AS start_tok, "
        f"CAST(max(pos) + {n - 1} AS BIGINT) AS end_tok, "
        "count(*) AS n_grams FROM g GROUP BY doc_id, island)"
    )


def luhn_scan_sql(docs_sql: str) -> str:
    """Mirror of ``redaction.luhn_scan`` over any ``(doc_id, text)``
    relation: card-shaped candidate extraction (same RE2-subset regex),
    separator strip, and the integer mod-10 checksum replayed with
    ``list_sum`` over the identical fixed-order terms."""
    luhn_term = (
        "CASE WHEN i % 2 = 0 THEN "
        "CASE WHEN 2 * (ascii(substr(r, CAST(i AS INT), 1)) - 48) > 9 "
        "THEN 2 * (ascii(substr(r, CAST(i AS INT), 1)) - 48) - 9 "
        "ELSE 2 * (ascii(substr(r, CAST(i AS INT), 1)) - 48) END "
        "ELSE ascii(substr(r, CAST(i AS INT), 1)) - 48 END"
    )
    return (
        f"WITH docs AS ({docs_sql}), "
        "cand AS (SELECT doc_id, unnest(regexp_extract_all(text, "
        r"'\b\d(?:[ -]?\d){12,18}\b')) AS card FROM docs), "
        "d AS (SELECT doc_id, regexp_replace(card, '[^0-9]', '', 'g') "
        "AS card_digits FROM cand), "
        "s AS (SELECT doc_id, card_digits, "
        "CAST(length(card_digits) AS INT) AS n_digits, "
        "reverse(card_digits) AS r FROM d) "
        "SELECT doc_id, card_digits, n_digits, "
        f"(list_sum(list_transform(range(1, n_digits + 1), i -> {luhn_term})) "
        "% 10 = 0) AS luhn_valid FROM s"
    )


def luhn_cards_docs_sql() -> str:
    """The manufactured card corpus for the luhn gate (the corpus is
    digit-free, so the query manufactures what it audits — the
    _q_pii_redaction move): every customer gets a 16-digit card-shaped
    number (15 md5-free deterministic digits + custkey%10 as the check
    digit, Luhn-valid ~10% of the time), dash-grouped for custkey%3==0,
    absent for custkey%7==0; a constant 8-digit run must never match."""
    body = (
        "lpad(CAST(c_custkey * 7919 % 100000 AS VARCHAR), 5, '0') || "
        "lpad(CAST(c_custkey * 104729 % 100000 AS VARCHAR), 5, '0') || "
        "lpad(CAST(c_custkey % 100000 AS VARCHAR), 5, '0') || "
        "CAST(c_custkey % 10 AS VARCHAR)"
    )
    return (
        f"SELECT c_custkey AS doc_id, 'order ref 12345678 ' || "
        "CASE WHEN c_custkey % 7 <> 0 THEN 'card ' || "
        "CASE WHEN c_custkey % 3 = 0 THEN "
        f"substr(d16, 1, 4) || ' ' || substr(d16, 5, 4) || ' ' || "
        "substr(d16, 9, 4) || ' ' || substr(d16, 13, 4) "
        "ELSE d16 END || ' ' ELSE '' END || 'end' AS text "
        f"FROM (SELECT c_custkey, {body} AS d16 FROM customer)"
    )


def packing_report_sql(budget: int, where: str = "TRUE") -> str:
    """Mirror of ``text.packing_report`` (ws tokenizer) over
    ``documents``: the seq_packing flat prefix sum, per-doc segment
    arithmetic, then the one-row packed-vs-padded audit. Every count is
    BIGINT (HUGEINT sums cast back down); the three rates replay the
    engine's single double division + round(6)."""
    b = int(budget)
    return (
        "WITH t AS (SELECT doc_id, CAST(len(list_filter("
        r"regexp_split_to_array(text, '[[:space:]]+'), w -> w <> '')) AS BIGINT) "
        f"AS n_tokens FROM documents WHERE {where}), "
        "c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER "
        "(ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens "
        "AS global_start FROM t), "
        "per AS (SELECT n_tokens, CASE WHEN n_tokens > 0 THEN "
        f"(global_start + n_tokens - 1) // {b} - global_start // {b} + 1 "
        "ELSE 0 END AS segs, "
        f"(n_tokens + {b - 1}) // {b} AS pseqs FROM c), "
        "a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS total_tokens, "
        "CAST(coalesce(sum(CASE WHEN segs > 1 THEN 1 ELSE 0 END), 0) AS BIGINT) "
        "AS n_split_docs, "
        "CAST(coalesce(sum(CASE WHEN segs > 0 THEN segs - 1 ELSE 0 END), 0) "
        "AS BIGINT) AS cross_segments, "
        "CAST(coalesce(sum(pseqs), 0) AS BIGINT) AS padded_seqs FROM per), "
        "s AS (SELECT *, "
        f"(total_tokens + {b - 1}) // {b} AS n_bins FROM a) "
        f"SELECT CAST({b} AS BIGINT) AS budget, n_docs, total_tokens, n_bins, "
        "n_split_docs, cross_segments, "
        f"n_bins * {b} - total_tokens AS tail_waste, "
        "CASE WHEN n_bins > 0 THEN round(CAST("
        f"n_bins * {b} - total_tokens AS DOUBLE) / (n_bins * {b}), 6) "
        "ELSE 0.0 END AS pack_waste_rate, "
        "padded_seqs, "
        f"padded_seqs * {b} - total_tokens AS pad_tokens, "
        "CASE WHEN padded_seqs > 0 THEN round(CAST("
        f"padded_seqs * {b} - total_tokens AS DOUBLE) / (padded_seqs * {b}), 6) "
        "ELSE 0.0 END AS pad_waste_rate, "
        "CASE WHEN n_docs > 0 THEN "
        "round(CAST(n_split_docs AS DOUBLE) / n_docs, 6) ELSE 0.0 END "
        "AS split_frac FROM s"
    )


def calibrate_scores_sql(
    score_sql: str = "CAST(n_chars AS DOUBLE)",
    score_name: str = "n_chars",
    group: str = "source",
    key: str = "doc_id",
    table: str = "documents",
) -> str:
    """Mirror of ``sampling.calibrate_scores``: tie-aware per-group
    percent_rank, spelled as explicit rank()/count() windows (not the
    engine-varying percent_rank builtin) with the engine's exact
    single-row / constant-group zero semantics."""
    return (
        f"WITH s AS (SELECT {key} AS k, {group} AS g, {score_sql} AS q "
        f"FROM {table}), "
        "w AS (SELECT k, g, q, rank() OVER (PARTITION BY g ORDER BY q) AS rnk, "
        "count(*) OVER (PARTITION BY g) AS n, "
        "min(q) OVER (PARTITION BY g) AS lo, "
        "max(q) OVER (PARTITION BY g) AS hi FROM s) "
        f"SELECT k AS {key}, g AS {group}, round(q, 6) AS {score_name}, "
        "CASE WHEN n > 1 AND hi > lo THEN "
        "round(CAST(rnk - 1 AS DOUBLE) / (n - 1), 6) ELSE 0.0 END "
        "AS calibrated FROM w"
    )


def ks_drift_sql(
    old_sql: str,
    new_sql: str,
    value: str = "value",
) -> str:
    """Mirror of ``relational.ks_drift`` over two SELECTs: per-value
    side counts, one cumulative window (oracle scale), and the max of
    |F1 - F2| from the identical single-division doubles. Counts are
    BIGINT-cast (DuckDB HUGEINT sums land as float64 in pandas). The
    sup is a GLOBAL aggregate cross-joined onto the always-one-row
    totals, so the report is exactly one row even when both inputs
    are empty (the engine's one-row contract)."""
    return (
        f"WITH o AS ({old_sql}), nn AS ({new_sql}), "
        f"u AS (SELECT CAST({value} AS DOUBLE) AS v, 1 AS so, 0 AS sn FROM o "
        f"WHERE {value} IS NOT NULL "
        f"UNION ALL SELECT CAST({value} AS DOUBLE), 0, 1 FROM nn "
        f"WHERE {value} IS NOT NULL), "
        "g AS (SELECT v, CAST(sum(so) AS BIGINT) AS c1, "
        "CAST(sum(sn) AS BIGINT) AS c2 FROM u GROUP BY v), "
        "t AS (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) AS n1, "
        "CAST(coalesce(sum(c2), 0) AS BIGINT) AS n2, "
        "CAST(count(*) AS BIGINT) AS nv FROM g), "
        "c AS (SELECT CAST(sum(c1) OVER w AS BIGINT) AS cum1, "
        "CAST(sum(c2) OVER w AS BIGINT) AS cum2 FROM g "
        "WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)), "
        "m AS (SELECT max(abs(CAST(cum1 AS DOUBLE) / t.n1 - "
        "CAST(cum2 AS DOUBLE) / t.n2)) AS dm FROM c, t) "
        "SELECT t.n1 AS n_old, t.n2 AS n_new, t.nv AS n_values, "
        "CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN round(m.dm, 6) "
        "ELSE NULL END AS d_stat "
        "FROM t, m"
    )


def margin_matches_ab_sql(
    a_where: str,
    b_where: str,
    k: int = 4,
    margin_threshold: float = 1.0,
    num_planes: int = 8,
    bands: int = 2,
) -> str:
    """Mirror of ``similarity.margin_matches_ab`` over two
    WHERE-filtered views of the embeddings table: identical
    deterministic hyperplane candidates, round-6 cosines scaled to
    exact BIGINTs, row_number top-k neighborhood sums per side, then
    the fixed IEEE chain for the ratio margin."""
    r = num_planes // bands

    def band_rows(where: str) -> str:
        return " UNION ALL ".join(
            f"SELECT vec_id, {b} AS band, "
            + " + ".join(_plane_bit_sql(b * r + j, 1 << j) for j in range(r))
            + f" AS key FROM embeddings WHERE {where}"
            for b in range(bands)
        )

    cos = f"round({_dot_sql('va', 'vb')} / (na * nb), 6)"
    return (
        f"WITH bka AS ({band_rows(a_where)}), bkb AS ({band_rows(b_where)}), "
        "cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b FROM bka x "
        "JOIN bkb y ON x.band = y.band AND x.key = y.key), "
        f"basea AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm "
        f"FROM embeddings WHERE {a_where}), "
        f"baseb AS (SELECT vec_id, embedding, {_norm_sql('embedding')} AS nrm "
        f"FROM embeddings WHERE {b_where}), "
        "pairs AS (SELECT c.id_a, c.id_b, a.embedding AS va, b.embedding AS vb, "
        "a.nrm AS na, b.nrm AS nb FROM cand c "
        "JOIN basea a ON c.id_a = a.vec_id JOIN baseb b ON c.id_b = b.vec_id), "
        f"sc AS (SELECT id_a, id_b, {cos} AS cos, "
        f"CAST(round({cos} * 1000000, 0) AS BIGINT) AS ci FROM pairs), "
        "rk AS (SELECT *, row_number() OVER "
        "(PARTITION BY id_a ORDER BY ci DESC, id_b ASC) AS ra, "
        "row_number() OVER (PARTITION BY id_b ORDER BY ci DESC, id_a ASC) AS rb "
        "FROM sc), "
        "da AS (SELECT id_a, CAST(sum(ci) AS BIGINT) AS sa, "
        f"CAST(count(*) AS BIGINT) AS ka FROM rk WHERE ra <= {k} GROUP BY id_a), "
        "db AS (SELECT id_b, CAST(sum(ci) AS BIGINT) AS sb, "
        f"CAST(count(*) AS BIGINT) AS kb FROM rk WHERE rb <= {k} GROUP BY id_b) "
        "SELECT id_a, id_b, cos, "
        "round(CAST(ci AS DOUBLE) / ((sa / ka + sb / kb) / 2), 6) AS margin "
        "FROM sc JOIN da USING (id_a) JOIN db USING (id_b) "
        "WHERE (sa / ka + sb / kb) / 2 > 0 "
        "AND round(CAST(ci AS DOUBLE) / ((sa / ka + sb / kb) / 2), 6) "
        f">= {margin_threshold}"
    )


def ks_binned_sql(old_hist_sql: str, new_hist_sql: str) -> str:
    """Mirror of ``relational.ks_from_histograms`` over two
    ``(bucket_start, n)`` histogram SELECTs (NULL buckets excluded,
    BIGINT counts, the same try-divide double chain)."""
    return (
        f"WITH o AS ({old_hist_sql}), nn AS ({new_hist_sql}), "
        "u AS (SELECT CAST(bucket_start AS DOUBLE) AS b, "
        "CAST(n AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2 FROM o "
        "WHERE bucket_start IS NOT NULL "
        "UNION ALL SELECT CAST(bucket_start AS DOUBLE), 0, CAST(n AS BIGINT) "
        "FROM nn WHERE bucket_start IS NOT NULL), "
        "g AS (SELECT b, CAST(sum(c1) AS BIGINT) AS c1, "
        "CAST(sum(c2) AS BIGINT) AS c2 FROM u GROUP BY b), "
        "t AS (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) AS n1, "
        "CAST(coalesce(sum(c2), 0) AS BIGINT) AS n2, "
        "CAST(count(*) AS BIGINT) AS nb FROM g), "
        "c AS (SELECT CAST(sum(c1) OVER w AS BIGINT) AS cum1, "
        "CAST(sum(c2) OVER w AS BIGINT) AS cum2 FROM g "
        "WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)), "
        "m AS (SELECT max(abs(CAST(cum1 AS DOUBLE) / t.n1 - "
        "CAST(cum2 AS DOUBLE) / t.n2)) AS dm FROM c, t) "
        "SELECT t.n1 AS n_old, t.n2 AS n_new, t.nb AS n_buckets, "
        "CASE WHEN t.n1 > 0 AND t.n2 > 0 THEN round(m.dm, 6) "
        "ELSE NULL END AS d_stat "
        "FROM t, m"
    )


def minhash_recall_report_sql(
    drop_rate: float = 0.15,
    sample_mod: int = 10,
    threshold: float = 0.3,
    ngram: int = 2,
    num_hashes: int = 16,
    bands: int = 4,
    salt: str = "mhrecall:",
    twin_offset: int = 1 << 40,
) -> str:
    """Mirror of ``dedup.minhash_recall_report`` over ``documents``:
    the same 52-bit coin word-drop perturbation, the identical
    universal-hash minhash pipeline over corpus + twins, exact
    Jaccard on both the found and the planted side, one-row report."""
    from pagerank_mapreduce_implementation_spark.operators.dedup import (
        MINHASH_P,
        _minhash_coeffs,
    )

    off, mod, p, n = int(twin_offset), int(sample_mod), float(drop_rate), int(ngram)
    coin = (
        f"('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR) || ':' || "
        "CAST(i - 1 AS VARCHAR)), 1, 13))::UBIGINT::BIGINT::DOUBLE "
        "/ 4503599627370496.0"
    )
    if n == 1:
        sh_cte = (
            "sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, "
            "unnest(a) AS shingle FROM arr))"
        )
    else:
        sh_cte = (
            "sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, "
            f"unnest(CASE WHEN len(a) >= {n} THEN "
            f"list_transform(range(1, len(a) - {n} + 2), "
            f"i -> array_to_string(a[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' ')) "
            "ELSE [] END) AS shingle FROM arr))"
        )
    r = num_hashes // bands
    mins = ", ".join(
        f"min(({a}::BIGINT * hb + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(_minhash_coeffs(num_hashes))
    )
    sep = " || ',' || "
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"{sep.join(f'CAST(h{b * r + j} AS VARCHAR)' for j in range(r))} "
        "AS bucket FROM mh"
        for b in range(bands)
    )
    jac = "round(CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i), 6)"
    return (
        "WITH o AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents), "
        "sarr AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
        "'[[:space:]]+'), w -> w <> '') AS a FROM documents "
        f"WHERE doc_id % {mod} = 0), "
        # the offset lands in an OUTER select: DuckDB lateral column
        # aliases would otherwise shadow doc_id inside the coin lambda
        # with the already-shifted id (Spark keys the coin on the
        # ORIGINAL id)
        f"tw AS (SELECT doc_id + {off} AS doc_id, text FROM "
        f"(SELECT doc_id, array_to_string("
        f"list_transform(list_filter(range(1, len(a) + 1), i -> {coin} >= {p}), "
        "i -> a[CAST(i AS INT)]), ' ') AS text FROM sarr) ztw), "
        "corpus AS (SELECT * FROM o UNION ALL SELECT * FROM tw), "
        "arr AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
        "'[[:space:]]+'), w -> w <> '') AS a FROM corpus), "
        f"{sh_cte}, "
        "hb AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))"
        f"::UBIGINT::BIGINT % {MINHASH_P} AS hb FROM sh), "
        f"mh AS (SELECT doc_id, {mins} FROM hb GROUP BY doc_id), "
        f"bk AS ({band_rows}), "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bk x "
        "JOIN bk y ON x.band = y.band AND x.bucket = y.bucket "
        "AND x.doc_id < y.doc_id), "
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i FROM cand c "
        "JOIN sh x ON x.doc_id = c.doc_a "
        "JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle "
        "GROUP BY c.doc_a, c.doc_b), "
        "found AS (SELECT t.doc_a, t.doc_b FROM inter t "
        "JOIN sz sa ON sa.doc_id = t.doc_a JOIN sz sb ON sb.doc_id = t.doc_b "
        f"WHERE {jac} >= {threshold}), "
        f"planted AS (SELECT doc_id AS doc_a, doc_id + {off} AS doc_b "
        f"FROM documents WHERE doc_id % {mod} = 0), "
        "pinter AS (SELECT pl.doc_a, pl.doc_b, count(*) AS i FROM planted pl "
        "JOIN sh x ON x.doc_id = pl.doc_a "
        "JOIN sh y ON y.doc_id = pl.doc_b AND y.shingle = x.shingle "
        "GROUP BY pl.doc_a, pl.doc_b), "
        "qual AS (SELECT t.doc_a, t.doc_b FROM pinter t "
        "JOIN sz sa ON sa.doc_id = t.doc_a JOIN sz sb ON sb.doc_id = t.doc_b "
        f"WHERE {jac} >= {threshold}), "
        "h AS (SELECT count(*) AS hits FROM qual q JOIN found f "
        "ON f.doc_a = q.doc_a AND f.doc_b = q.doc_b), "
        "np AS (SELECT CAST(count(*) AS BIGINT) AS n_planted FROM planted), "
        "nq AS (SELECT CAST(count(*) AS BIGINT) AS n_qualifying FROM qual) "
        "SELECT np.n_planted, nq.n_qualifying, CAST(h.hits AS BIGINT) AS hits, "
        "CASE WHEN nq.n_qualifying > 0 THEN "
        "round(CAST(h.hits AS DOUBLE) / nq.n_qualifying, 6) ELSE NULL END "
        "AS recall FROM np, nq, h"
    )


def _planted_corpus_ctes(
    drop_rate: float, sample_mod: int, salt: str, twin_offset: int
) -> str:
    """The recall audits' shared truth-planting CTE chain over
    ``documents`` -> a ``corpus (doc_id, text)`` CTE of originals +
    word-drop twins (mirror of ``dedup._planted_twin_corpus``: 52-bit
    md5 coins keyed (salt, doc, position); the twin-id offset lands in
    an OUTER select — the lateral-alias hazard)."""
    off, mod, p = int(twin_offset), int(sample_mod), float(drop_rate)
    coin = (
        f"('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR) || ':' || "
        "CAST(i - 1 AS VARCHAR)), 1, 13))::UBIGINT::BIGINT::DOUBLE "
        "/ 4503599627370496.0"
    )
    return (
        "o AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents), "
        "sarr AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
        "'[[:space:]]+'), w -> w <> '') AS a FROM documents "
        f"WHERE doc_id % {mod} = 0), "
        f"tw AS (SELECT doc_id + {off} AS doc_id, text FROM "
        f"(SELECT doc_id, array_to_string("
        f"list_transform(list_filter(range(1, len(a) + 1), i -> {coin} >= {p}), "
        "i -> a[CAST(i AS INT)]), ' ') AS text FROM sarr) ztw), "
        "corpus AS (SELECT * FROM o UNION ALL SELECT * FROM tw)"
    )


def lsh_expected_recall_sql(
    configs: tuple = ((8, 2), (16, 4), (32, 8)),
    threshold: float = 0.3,
    drop_rate: float = 0.15,
    sample_mod: int = 10,
    ngram: int = 2,
    salt: str = "mhrecall:",
    twin_offset: int = 1 << 40,
) -> str:
    """Mirror of ``dedup.lsh_expected_recall`` over ``documents``: the
    shared planting, exact planted-pair Jaccard, then per config the
    UNROLLED left-associated ``1 - (1 - s^r)^b`` chain (never libm
    pow), round-6 -> exact BIGINT -> one mean division; ``s50`` enters
    as the same Python-computed literal."""
    off, mod, n = int(twin_offset), int(sample_mod), int(ngram)
    if n == 1:
        sh_cte = (
            "sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, "
            "unnest(a) AS shingle FROM arr))"
        )
    else:
        sh_cte = (
            "sh AS (SELECT DISTINCT doc_id, shingle FROM (SELECT doc_id, "
            f"unnest(CASE WHEN len(a) >= {n} THEN "
            f"list_transform(range(1, len(a) - {n} + 2), "
            f"i -> array_to_string(a[CAST(i AS INT):CAST(i + {n - 1} AS INT)], ' ')) "
            "ELSE [] END) AS shingle FROM arr))"
        )
    jac = "round(CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i), 6)"
    selects = []
    for nh, b in configs:
        r = nh // b
        sr = " * ".join(["s"] * r)
        miss = f"(1.0e0 - ({sr}))"
        missb = " * ".join([miss] * b)
        p6 = f"round(1.0e0 - ({missb}), 6)"
        pi = f"CAST(round({p6} * 1000000, 0) AS BIGINT)"
        s50 = _double_lit_sql(round((1.0 / b) ** (1.0 / r), 6))
        selects.append(
            f"SELECT {nh} AS num_hashes, {b} AS bands, {r} AS rows_per_band, "
            "CAST(count(*) AS BIGINT) AS n_qualifying, "
            "CASE WHEN count(*) > 0 THEN "
            f"round(CAST(sum({pi}) AS DOUBLE) / "
            "(CAST(count(*) AS DOUBLE) * 1000000), 6) ELSE NULL END "
            f"AS expected_recall, {s50} AS s50_similarity FROM qual"
        )
    return (
        f"WITH {_planted_corpus_ctes(drop_rate, mod, salt, off)}, "
        "arr AS (SELECT doc_id, list_filter(regexp_split_to_array(text, "
        "'[[:space:]]+'), w -> w <> '') AS a FROM corpus), "
        f"{sh_cte}, "
        "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        f"planted AS (SELECT CAST(doc_id AS BIGINT) AS doc_a, "
        f"CAST(doc_id + {off} AS BIGINT) AS doc_b "
        f"FROM documents WHERE doc_id % {mod} = 0), "
        "pinter AS (SELECT pl.doc_a, pl.doc_b, count(*) AS i FROM planted pl "
        "JOIN sh x ON x.doc_id = pl.doc_a "
        "JOIN sh y ON y.doc_id = pl.doc_b AND y.shingle = x.shingle "
        "GROUP BY pl.doc_a, pl.doc_b), "
        f"qual AS (SELECT {jac} AS s FROM pinter t "
        "JOIN sz sa ON sa.doc_id = t.doc_a JOIN sz sb ON sb.doc_id = t.doc_b "
        f"WHERE {jac} >= {threshold}) "
        + " UNION ALL ".join(selects)
    )


def simhash_recall_report_sql(
    drop_rate: float = 0.3,
    sample_mod: int = 10,
    max_hamming: int = 8,
    chunks: int = 4,
    salt: str = "shrecall:",
    twin_offset: int = 1 << 40,
) -> str:
    """Mirror of ``dedup.simhash_recall_report`` over ``documents``:
    the shared word-drop planting, the identical md5 bit-vote
    fingerprints over corpus + twins, equal-chunk band candidates,
    integer hamming on both the found and the planted side — one-row
    report, no float anywhere before the final recall division."""
    off, mod = int(twin_offset), int(sample_mod)
    bits_per = 60 // chunks
    fp_ctes = (
        "tok AS (SELECT doc_id, w AS word FROM (SELECT doc_id, "
        "unnest(regexp_split_to_array(text, '[[:space:]]+')) AS w "
        "FROM corpus) WHERE w <> ''), "
        "cnt AS (SELECT doc_id, word, count(*) AS c FROM tok "
        "GROUP BY doc_id, word), "
        "hashed AS (SELECT doc_id, c, "
        "CAST(('0x' || substr(md5(word), 1, 15)) AS UBIGINT)::BIGINT AS h "
        "FROM cnt), "
        "votes AS (SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN c "
        "ELSE -c END AS vote FROM hashed, unnest(range(0, 60)) AS t(b)), "
        "bitsum AS (SELECT doc_id, b, sum(vote) AS v FROM votes "
        "GROUP BY doc_id, b), "
        "fp AS (SELECT doc_id, sum(CASE WHEN v >= 0 THEN (1::BIGINT << b) "
        "ELSE 0 END) AS simhash FROM bitsum GROUP BY doc_id)"
    )
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS chunk, "
        f"(simhash >> {c * bits_per}) & {(1 << bits_per) - 1} AS key FROM fp"
        for c in range(chunks)
    )
    return (
        f"WITH {_planted_corpus_ctes(drop_rate, mod, salt, off)}, "
        f"{fp_ctes}, "
        f"bk AS ({chunk_rows}), "
        "cand AS (SELECT DISTINCT x.doc_id AS doc_a, x.simhash AS sim_a, "
        "y.doc_id AS doc_b, y.simhash AS sim_b FROM bk x "
        "JOIN bk y ON x.chunk = y.chunk AND x.key = y.key "
        "AND x.doc_id < y.doc_id), "
        "found AS (SELECT doc_a, doc_b FROM cand "
        f"WHERE bit_count(xor(sim_a, sim_b)) <= {int(max_hamming)}), "
        f"planted AS (SELECT CAST(doc_id AS BIGINT) AS doc_a, "
        f"CAST(doc_id + {off} AS BIGINT) AS doc_b "
        f"FROM documents WHERE doc_id % {mod} = 0), "
        "qual AS (SELECT pl.doc_a, pl.doc_b FROM planted pl "
        "JOIN fp fa ON fa.doc_id = pl.doc_a "
        "JOIN fp fb ON fb.doc_id = pl.doc_b "
        f"WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {int(max_hamming)}), "
        "h AS (SELECT count(*) AS hits FROM qual q JOIN found f "
        "ON f.doc_a = q.doc_a AND f.doc_b = q.doc_b), "
        "np AS (SELECT CAST(count(*) AS BIGINT) AS n_planted FROM planted), "
        "nq AS (SELECT CAST(count(*) AS BIGINT) AS n_qualifying FROM qual) "
        "SELECT np.n_planted, nq.n_qualifying, CAST(h.hits AS BIGINT) AS hits, "
        "CASE WHEN nq.n_qualifying > 0 THEN "
        "round(CAST(h.hits AS DOUBLE) / nq.n_qualifying, 6) ELSE NULL END "
        "AS recall FROM np, nq, h"
    )


def readability_sql() -> str:
    """Mirror of ``textstats.readability_scores`` over ``documents``:
    whitespace word count, ``[.!?]+``-run sentence count (>=1 when
    words exist), ``[aeiouy]+``-run syllable count over the lowercased
    text, then the Flesch / Flesch-Kincaid fixed IEEE chains with
    exact-DOUBLE ``e0`` literals, rounded 6; empty docs report zero
    counts and NULL scores."""
    return (
        "WITH c AS (SELECT doc_id, "
        "CAST(len(list_filter(regexp_split_to_array(text, "
        r"'[[:space:]]+'), w -> w <> '')) AS BIGINT) AS n_words, "
        "CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) "
        "AS term_runs, "
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) "
        "AS n_syllables FROM documents), "
        "s AS (SELECT doc_id, n_words, n_syllables, "
        "CASE WHEN n_words > 0 THEN greatest(term_runs, 1) ELSE 0 END "
        "AS n_sentences FROM c), "
        "r AS (SELECT *, "
        "CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps, "
        "CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw "
        "FROM s WHERE n_words > 0) "
        "SELECT doc_id, n_sentences, n_words, n_syllables, "
        "round(wps, 6) AS words_per_sentence, "
        "round(spw, 6) AS syllables_per_word, "
        "round(206.835e0 - 1.015e0 * wps - 84.6e0 * spw, 6) "
        "AS flesch_reading_ease, "
        "round(0.39e0 * wps + 11.8e0 * spw - 15.59e0, 6) AS fk_grade "
        "FROM r "
        "UNION ALL "
        "SELECT doc_id, n_sentences, n_words, n_syllables, "
        "NULL, NULL, NULL, NULL FROM s WHERE n_words = 0"
    )


def oov_stats_sql(top_k: int = 1000) -> str:
    """Mirror of ``textstats.oov_stats`` over ``documents``: head
    vocabulary = the ``top_k`` most frequent lowercased whitespace
    tokens (ties by word ascending), per-doc OOV counts via a left
    join, empty docs preserved with zero counts. BIGINT casts keep
    HUGEINT sums out of the hash."""
    k = int(top_k)
    return (
        "WITH tok AS (SELECT doc_id, lower(w) AS w FROM (SELECT doc_id, "
        "unnest(list_filter(regexp_split_to_array(text, "
        r"'[[:space:]]+'), x -> x <> '')) AS w FROM documents) z), "
        "vocab AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok "
        f"GROUP BY w) q ORDER BY c DESC, w ASC LIMIT {k}), "
        "per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
        "CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_oov FROM tok t LEFT JOIN vocab v USING (w) "
        "GROUP BY t.doc_id) "
        "SELECT d.doc_id, CAST(coalesce(p.n_tokens, 0) AS BIGINT) "
        "AS n_tokens, CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov, "
        "CASE WHEN coalesce(p.n_tokens, 0) > 0 THEN "
        "round(CAST(p.n_oov AS DOUBLE) / p.n_tokens, 6) ELSE 0.0 END "
        "AS oov_ratio FROM documents d LEFT JOIN per p USING (doc_id)"
    )


def tfidf_files_sql(
    terms: list[str], subset: str = "doc_id % 100 = 0"
) -> str:
    """Oracle for the jar-parity TF-IDF FILE pipeline gate
    (``programs.tfidf_search_rank`` through the one-doc-per-file input
    + O3 ``doc\\tscore`` text sink + O2 tab-split re-read): recompute
    the whole scoring over the same doc subset from the parquet —
    jar-exact boundary tokenizer (``\\w+`` runs and punctuation runs,
    lowercased), 1+log10 TF, log10(1 + N/df) IDF over the SUBSET's doc
    count, summed over the searched terms, round 6. The engine side
    reads its numbers back through the text round-trip, so any
    formatting/stringification drift breaks the hash."""
    tl = ", ".join("'" + t.replace("'", "''").lower() + "'" for t in terms)
    return (
        "WITH sub AS (SELECT 'doc' || CAST(doc_id AS VARCHAR) AS doc_id, "
        f"text FROM documents WHERE {subset}), "
        "tok AS (SELECT doc_id, lower(w) AS word FROM (SELECT doc_id, "
        r"unnest(regexp_extract_all(text, '\w+|[^\w[:space:]]+')) AS w "
        "FROM sub) z WHERE w <> ''), "
        "cnt AS (SELECT doc_id, word, count(*) AS c FROM tok "
        "GROUP BY doc_id, word), "
        "tf AS (SELECT doc_id, word, 1.0 + log10(c) AS tf FROM cnt), "
        "dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word), "
        "tfidf AS (SELECT t.doc_id, t.word, t.tf * log10(1.0 + "
        "CAST((SELECT count(*) FROM sub) AS DOUBLE)/dfreq.df) AS tfidf "
        "FROM tf t JOIN dfreq USING (word)) "
        "SELECT doc_id, round(sum(tfidf), 6) AS score FROM tfidf "
        f"WHERE word IN ({tl}) GROUP BY doc_id"
    )


def _double_lit_sql(x: float) -> str:
    """Exact DOUBLE literal: Python's shortest-round-trip repr with an
    exponent marker so DuckDB parses it as DOUBLE via strtod (a bare
    high-precision decimal literal would land in DECIMAL(38,x) and pay
    an int128-division re-rounding on the cast)."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r) else r + "e0"


def pca_project_sql(
    components: list[list[float]], means: list[float]
) -> str:
    """Mirror of ``operators.embeddings.pca_project`` with a FIXED
    literal basis over ``embeddings`` — the fitted-basis-reuse
    deployment shape, which is what makes the distributed projection
    SQL-expressible: each output coordinate is the sequential-fold dot
    of the (float32 -> double, exact) vector with a literal component
    minus the precomputed ``means . component`` scalar (the SAME
    ``np.dot`` bits the engine folds into its plan literal), rendered
    as the decimal-exact CSV string. Only the d x d eigh that PRODUCED
    the basis stays outside SQL (numpy-parity pytest gate)."""
    import numpy as np

    projs = []
    for ci, comp in enumerate(components):
        mu_dot = float(np.dot(means, comp))
        clit = "[" + ", ".join(_double_lit_sql(c) for c in comp) + "]"
        projs.append(
            f"({_dot_sql('v', clit)} - {_double_lit_sql(mu_dot)}) AS p{ci}"
        )
    plist = "[" + ", ".join(f"p{ci}" for ci in range(len(components))) + "]"
    return (
        "WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        f"pr AS (SELECT vec_id, {', '.join(projs)} FROM base) "
        f"SELECT vec_id, array_to_string(list_transform({plist}, "
        f"x -> {_dec_str_sql('x')}), ',') AS proj FROM pr"
    )


def classify_domains_sql(taxonomy: dict | None = None) -> str:
    """Mirror of ``textstats.classify_domains`` over ``documents``:
    per-domain token-hit counts as plan-time literal keyword lists,
    struct greatest for the (hits, name) argmax, identical zero-hit
    NULL semantics. Keyword and domain literals are single-quote
    escaped (``'' ``) like every other oracle builder — a taxonomy
    entry containing a quote must not break or inject the SQL
    (round-13 advisory)."""
    if taxonomy is None:
        from pagerank_mapreduce_implementation_spark.operators.textstats import (
            DEFAULT_TAXONOMY,
        )

        taxonomy = DEFAULT_TAXONOMY
    names = sorted(taxonomy)

    def q(s: str) -> str:
        return s.replace("'", "''")

    def kwlist(d: str) -> str:
        return "[" + ", ".join(f"'{q(k.lower())}'" for k in taxonomy[d]) + "]"

    hits = ", ".join(
        f"CAST(len(list_filter(tk, w -> list_contains({kwlist(d)}, w))) "
        f"AS BIGINT) AS h{i}"
        for i, d in enumerate(names)
    )
    k = len(names)
    keys = ", ".join(f"h{i} * {k} + {i}" for i in range(k))
    best = f"greatest({keys})" if k > 1 else f"h0 * {k}"
    tot = " + ".join(f"h{i}" for i in range(k))
    dom = (
        "CASE "
        + " ".join(f"WHEN bi = {i} THEN '{q(d)}'" for i, d in enumerate(names))
        + " END"
    )
    return (
        "WITH t AS (SELECT doc_id, list_transform(list_filter("
        "regexp_split_to_array(text, '[[:space:]]+'), w -> w <> ''), "
        "w -> lower(w)) AS tk FROM documents), "
        f"s AS (SELECT doc_id, {hits} FROM t), "
        f"b AS (SELECT doc_id, CAST({best} AS BIGINT) AS key, "
        f"CAST({tot} AS BIGINT) AS tot FROM s), "
        f"c AS (SELECT doc_id, key // {k} AS bh, key % {k} AS bi, tot FROM b) "
        "SELECT doc_id, "
        f"CASE WHEN bh > 0 THEN {dom} ELSE NULL END AS domain, "
        "CAST(CASE WHEN bh > 0 THEN bh ELSE 0 END AS BIGINT) AS hits, "
        "tot AS total_hits, "
        "CASE WHEN bh > 0 THEN round(CAST(bh AS DOUBLE) / tot, 6) "
        "ELSE NULL END AS confidence FROM c"
    )


def zipf_fit_sql(top_k: int = 100, group_col: str = "source") -> str:
    """Mirror of ``textstats.zipf_fit`` over ``documents``: per-group
    word counts, full-vocab token/type/hapax stats, deterministic
    (cnt desc, word) ranks, and the OLS of log10(freq) on log10(rank)
    over the top_k head — per-row doubles rounded 12 and summed as
    DECIMAL(32,12) (the quality-classifier moment convention), the
    closed-form slope/intercept/r2 replayed as the identical double
    chain with the same CASE WHEN var = 0 guards."""
    if top_k < 2:
        raise ValueError(f"top_k ({top_k}) must be >= 2 to fit a line")
    dec = lambda e: f"sum(CAST(round({e}, 12) AS DECIMAL(32,12)))"  # noqa: E731
    return (
        "WITH tok AS (SELECT g, w AS word FROM (SELECT "
        f"{group_col} AS g, unnest(list_filter("
        "regexp_split_to_array(text, '[[:space:]]+'), x -> x <> '')) AS w "
        "FROM documents)), "
        "wc AS (SELECT g, word, count(*) AS cnt FROM tok GROUP BY g, word), "
        "stats AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_tokens, "
        "count(*) AS n_types, "
        "round(CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ count(*), 6) AS hapax_ratio FROM wc GROUP BY g), "
        "top AS (SELECT g, cnt, row_number() OVER (PARTITION BY g "
        "ORDER BY cnt DESC, word ASC) AS r FROM wc "
        f"QUALIFY r <= {int(top_k)}), "
        "m AS (SELECT g, log10(CAST(r AS DOUBLE)) AS x, "
        "log10(CAST(cnt AS DOUBLE)) AS y FROM top), "
        "ols AS (SELECT g, CAST(count(*) AS DOUBLE) AS n, "
        f"CAST({dec('x')} AS DOUBLE) AS sx, "
        f"CAST({dec('y')} AS DOUBLE) AS sy, "
        f"CAST({dec('x * y')} AS DOUBLE) AS sxy, "
        f"CAST({dec('x * x')} AS DOUBLE) AS sxx, "
        f"CAST({dec('y * y')} AS DOUBLE) AS syy FROM m GROUP BY g), "
        "fit AS (SELECT g, "
        "n * sxy - sx * sy AS cov, n * sxx - sx * sx AS varx, "
        "n * syy - sy * sy AS vary, sx, sy, n FROM ols) "
        f"SELECT stats.g AS {group_col}, n_tokens, n_types, hapax_ratio, "
        "round(CASE WHEN varx <> 0 THEN cov / varx END, 6) AS zipf_slope, "
        "round((sy - (CASE WHEN varx <> 0 THEN cov / varx END) * sx) / n, 6) "
        "AS zipf_intercept, "
        "round(CASE WHEN varx * vary <> 0 THEN cov * cov / (varx * vary) "
        "END, 6) AS zipf_r2 "
        "FROM stats JOIN fit ON stats.g = fit.g"
    )


def source_overlap_sql(min_shared: int = 1, group_col: str = "source") -> str:
    """Mirror of ``dedup.source_overlap`` over ``documents``: the
    exact-dedup fingerprint (md5 of lowercased, whitespace-collapsed,
    trimmed text) distinct per source, the fingerprint-keyed source
    self-join, and set-arithmetic jaccard/containment from exact
    integer counts."""
    if min_shared < 1:
        raise ValueError(f"min_shared ({min_shared}) must be >= 1")
    return (
        "WITH sfp AS (SELECT DISTINCT "
        f"{group_col} AS s, "
        "md5(lower(trim(regexp_replace(text, '[[:space:]]+', ' ', 'g'), ' '))) "
        "AS fp FROM documents), "
        "shared AS (SELECT a.s AS source_a, b.s AS source_b, "
        "count(*) AS n_shared FROM sfp a JOIN sfp b ON a.fp = b.fp "
        "AND a.s < b.s GROUP BY a.s, b.s "
        f"HAVING count(*) >= {int(min_shared)}), "
        "cnt AS (SELECT s, count(*) AS n FROM sfp GROUP BY s) "
        "SELECT source_a, source_b, n_shared, "
        "ca.n AS n_fp_a, cb.n AS n_fp_b, "
        "round(CAST(n_shared AS DOUBLE) / (ca.n + cb.n - n_shared), 6) "
        "AS jaccard, "
        "round(CAST(n_shared AS DOUBLE) / ca.n, 6) AS containment_a, "
        "round(CAST(n_shared AS DOUBLE) / cb.n, 6) AS containment_b "
        "FROM shared JOIN cnt ca ON shared.source_a = ca.s "
        "JOIN cnt cb ON shared.source_b = cb.s"
    )


def source_unigram_divergence_sql(group_col: str = "source") -> str:
    """Mirror of ``textstats.source_unigram_divergence`` over
    ``documents``: per-group lowercased-whitespace unigram
    distributions, the shared-type equi-join, and the missing-mass JSD
    identity (exclusive words contribute their own probability mass —
    only shared types are joined). round(,6) absorbs the cross-engine
    summation-order ulps (the entropy_stats discipline)."""
    return (
        "WITH tok AS (SELECT "
        f"{group_col} AS s, "
        "unnest(list_filter(regexp_split_to_array(lower(text), "
        "'[[:space:]]+'), x -> x <> '')) AS w FROM documents), "
        "cnt AS (SELECT s, w, count(*) AS n FROM tok GROUP BY 1, 2), "
        "tot AS (SELECT s, CAST(sum(n) AS BIGINT) AS tot_n, "
        "count(*) AS n_types FROM cnt GROUP BY 1), "
        "p AS (SELECT cnt.s, w, n::DOUBLE / tot_n AS p, n_types "
        "FROM cnt JOIN tot ON cnt.s = tot.s), "
        "sh AS (SELECT a.s AS source_a, b.s AS source_b, "
        "a.n_types AS n_types_a, b.n_types AS n_types_b, "
        "a.p AS pa, b.p AS pb "
        "FROM p a JOIN p b ON a.w = b.w AND a.s < b.s) "
        "SELECT source_a, source_b, count(*) AS shared_types, "
        "n_types_a, n_types_b, "
        "round((sum(pa * log2(2 * pa / (pa + pb)) "
        "+ pb * log2(2 * pb / (pa + pb))) "
        "+ (1 - sum(pa)) + (1 - sum(pb))) / 2, 6) + 0.0 AS jsd "
        "FROM sh GROUP BY 1, 2, 4, 5"
    )


def ngram_source_overlap_sql(
    ngram: int = 5, min_jaccard: float = 0.0, group_col: str = "source"
) -> str:
    """Mirror of ``dedup.ngram_source_overlap`` over ``documents``:
    per-source distinct word-n-gram shingle sets (the ngram_shingles
    convention: whitespace tokens, n-length windows joined by one
    space), the shingle-keyed source self-join, set-arithmetic
    jaccard/containment rounded 6."""
    if not 0.0 <= min_jaccard <= 1.0:
        raise ValueError(f"min_jaccard ({min_jaccard}) must be in [0, 1]")
    n = int(ngram)
    if n < 1:  # mirror the operator's guard: ngram=0 shingles to ''
        raise ValueError(f"ngram ({ngram}) must be >= 1")
    return (
        "WITH toks AS (SELECT "
        f"{group_col} AS s, "
        "list_filter(regexp_split_to_array(text, '[[:space:]]+'), "
        "w -> w <> '') AS tk FROM documents), "
        "sh AS (SELECT DISTINCT s, shingle FROM (SELECT s, "
        f"unnest(CASE WHEN len(tk) >= {n} THEN "
        f"list_transform(range(1, len(tk) - {n} + 2), "
        f"i -> array_to_string(tk[i:i+{n - 1}], ' ')) "
        "ELSE [] END) AS shingle FROM toks)), "
        "shared AS (SELECT a.s AS source_a, b.s AS source_b, "
        "count(*) AS n_shared FROM sh a JOIN sh b ON a.shingle = b.shingle "
        "AND a.s < b.s GROUP BY a.s, b.s), "
        "cnt AS (SELECT s, count(*) AS n FROM sh GROUP BY s) "
        "SELECT * FROM (SELECT source_a, source_b, n_shared, "
        "ca.n AS n_sh_a, cb.n AS n_sh_b, "
        "round(CAST(n_shared AS DOUBLE) / (ca.n + cb.n - n_shared), 6) "
        "AS jaccard, "
        "round(CAST(n_shared AS DOUBLE) / ca.n, 6) AS containment_a, "
        "round(CAST(n_shared AS DOUBLE) / cb.n, 6) AS containment_b "
        "FROM shared JOIN cnt ca ON shared.source_a = ca.s "
        "JOIN cnt cb ON shared.source_b = cb.s) "
        f"WHERE jaccard >= {float(min_jaccard)!r}"
    )


def hybrid_rrf_search_sql(
    terms: list,
    query_vec_id: int = 0,
    n: int = 50,
    k: int = 10,
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """Mirror of ``similarity.hybrid_rrf_search``: the registered BM25
    oracle shape (pivoted per-term tf columns, 1-row avgdl/df agg, the
    SAME left-to-right score addition) round(6)-ranked and cut to
    ``n``, the cosine_topk oracle shape cut to ``n``, row_number ranks
    over the rounded scores with id tiebreaks, FULL OUTER fuse on
    doc_id, rrf = 1/(K+lex_rank) + 1/(K+sem_rank) with absent branches
    contributing 0, top-``k`` by (rrf DESC, doc_id)."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("hybrid_rrf_search_sql needs at least one query term")
    dot = _dot_sql("e.embedding", "q.embedding")
    bm25_parts = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN "
        f"log10(1.0 + (nn.n - st.df{i} + 0.5)/(st.df{i} + 0.5)) "
        f"* (tf{i} * {float(k1 + 1.0)!r}) / "
        f"(tf{i} + {float(k1)!r} * (1.0 - {float(b)!r} + {float(b)!r} * dl / st.avgdl)) "
        "ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return (
        "WITH tok AS (SELECT doc_id, lower(w) AS word FROM (SELECT doc_id, "
        "unnest(regexp_split_to_array(text, '[[:space:]]+')) AS w "
        "FROM documents) WHERE w <> ''), "
        "agg AS (SELECT doc_id, count(*) AS dl, "
        + ", ".join(
            f"sum(CASE WHEN word = '{t}' THEN 1 ELSE 0 END) AS tf{i}"
            for i, t in enumerate(terms)
        )
        + " FROM tok GROUP BY doc_id), "
        "st AS (SELECT CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl, "
        + ", ".join(
            f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
            for i in range(len(terms))
        )
        + " FROM agg), "
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), "
        f"lexs AS (SELECT doc_id, round({bm25_parts}, 6) AS score "
        "FROM agg, st, nn WHERE "
        + " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
        + f" ORDER BY score DESC, doc_id ASC LIMIT {int(n)}), "
        "lex AS (SELECT doc_id, row_number() OVER "
        "(ORDER BY score DESC, doc_id ASC) AS lex_rank FROM lexs), "
        f"q AS (SELECT embedding FROM embeddings WHERE vec_id = {int(query_vec_id)}), "
        f"sems AS (SELECT e.vec_id AS doc_id, round({dot} / "
        f"({_norm_sql('e.embedding')} * {_norm_sql('q.embedding')}), 6) AS cos "
        f"FROM embeddings e, q WHERE e.vec_id <> {int(query_vec_id)} "
        f"ORDER BY cos DESC, e.vec_id ASC LIMIT {int(n)}), "
        "sem AS (SELECT doc_id, row_number() OVER "
        "(ORDER BY cos DESC, doc_id ASC) AS sem_rank FROM sems) "
        "SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, "
        f"round(COALESCE(1.0/({int(rrf_k)} + lex_rank), 0.0) + "
        f"COALESCE(1.0/({int(rrf_k)} + sem_rank), 0.0), 6) AS rrf, "
        "lex_rank, sem_rank "
        "FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id "
        f"ORDER BY rrf DESC, doc_id ASC LIMIT {int(k)}"
    )


def blocklist_hits_sql(
    blocklist: list, max_hit_ratio: float = 0.0, lowercase: bool = True
) -> str:
    """Mirror of ``textstats.blocklist_hits`` over ``documents``:
    whitespace tokens (lowered when ``lowercase``), exact whole-token
    membership against the literal list, distinct hits via
    list_distinct (Spark's array_intersect dedupes), flagged compared
    on the ROUND(6) ratio."""
    if not blocklist:
        raise ValueError("blocklist_hits_sql needs a non-empty blocklist")
    if not 0.0 <= max_hit_ratio <= 1.0:
        raise ValueError(f"max_hit_ratio ({max_hit_ratio}) must be in [0, 1]")
    words = [w.lower() for w in blocklist] if lowercase else list(blocklist)
    words = list(dict.fromkeys(words))
    lit = "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"
    tk = "list_transform(tk, w -> lower(w))" if lowercase else "tk"
    return (
        "WITH t AS (SELECT doc_id, "
        "list_filter(regexp_split_to_array(coalesce(text, ''), "
        "'[[:space:]]+'), w -> w <> '') AS tk FROM documents), "
        f"l AS (SELECT doc_id, {tk} AS tk FROM t), "
        "s AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, "
        f"CAST(len(list_filter(tk, w -> list_contains({lit}, w))) AS BIGINT) "
        "AS n_hits, "
        f"CAST(len(list_filter(list_distinct(tk), "
        f"w -> list_contains({lit}, w))) AS BIGINT) AS n_distinct_hits "
        "FROM l), "
        "r AS (SELECT *, round(CASE WHEN n_tokens > 0 THEN "
        "CAST(n_hits AS DOUBLE) / n_tokens ELSE 0.0 END, 6) AS hit_ratio "
        "FROM s) "
        "SELECT doc_id, n_tokens, n_hits, n_distinct_hits, hit_ratio, "
        f"(hit_ratio > {float(max_hit_ratio)!r}) AS flagged FROM r"
    )


def encoding_qa_sql(min_ascii_ratio: float = 0.5) -> str:
    """Mirror of ``textstats.encoding_qa`` over ``documents``: length/
    replace substring arithmetic for U+FFFD and the mojibake markers,
    the same RE2-and-Java-identical character classes for ascii and C0
    controls, flagged on the ROUND(6) ascii_ratio."""
    from pagerank_mapreduce_implementation_spark.operators.textstats import (
        MOJIBAKE_MARKERS,
    )

    if not 0.0 <= min_ascii_ratio <= 1.0:
        raise ValueError(f"min_ascii_ratio ({min_ascii_ratio}) must be in [0, 1]")
    moji = " + ".join(
        f"CAST((length(text) - length(replace(text, '{m}', ''))) / {len(m)} "
        "AS BIGINT)"
        for m in MOJIBAKE_MARKERS
    )
    return (
        # NULL text counts as '' (the operator's coalesce convention)
        "WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents), "
        "s AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, "
        r"length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS n_ascii, "
        "CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT) "
        "AS n_replacement, "
        "CAST(length(text) - length(regexp_replace(text, "
        r"'[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS BIGINT) AS n_control, "
        f"{moji} AS n_mojibake FROM d), "
        "r AS (SELECT *, round(CASE WHEN n_chars > 0 THEN "
        "CAST(n_ascii AS DOUBLE) / n_chars ELSE 1.0 END, 6) AS ascii_ratio "
        "FROM s) "
        "SELECT doc_id, n_chars, ascii_ratio, n_replacement, n_control, "
        "n_mojibake, (n_replacement > 0 OR n_control > 0 OR n_mojibake > 0 "
        f"OR ascii_ratio < {float(min_ascii_ratio)!r}) AS flagged FROM r"
    )


def _manifest_core_sql(group_col: str, where: str) -> str:
    """Per-doc manifest staging shared by source_manifest_sql and
    manifest_drift_sql — the ONE SQL home of the 60-bit exact-dedup
    fingerprint + null-safe token/char counts (mirror of
    dedup._manifest_aggregate's staged select)."""
    # trim(x, ' ') not bare trim(): DuckDB's default trim strips
    # UNICODE whitespace (U+00A0 survives Spark's ASCII-space trim but
    # vanished here — r17 hypothesis catch), while the library-wide
    # whitespace convention is POSIX/ASCII; only the collapsed ASCII
    # space can reach the edges, so trimming exactly ' ' matches
    # normalize_text bit-for-bit.
    return (
        f"SELECT {group_col} AS source, doc_id, "
        "('0x' || substr(md5(lower(trim(regexp_replace(coalesce(text, ''), "
        "'[[:space:]]+', ' ', 'g'), ' '))), 1, 15))::BIGINT AS fp, "
        "len(list_filter(regexp_split_to_array(coalesce(text, ''), "
        "'[[:space:]]+'), w -> w <> '')) AS nt, "
        "length(coalesce(text, '')) AS nc "
        f"FROM documents WHERE {where}"
    )


def source_manifest_sql(group_col: str = "source", where: str = "TRUE") -> str:
    """Mirror of ``dedup.source_manifest`` over ``documents``: the
    additive mod-2^60 multiset hash of exact-dedup content
    fingerprints (first 15 md5 hex digits of the normalize_text form),
    summed in HUGEINT (Spark sums decimal(38,0) — both exact)."""
    return (
        f"WITH s AS ({_manifest_core_sql(group_col, where)}) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(nt) AS BIGINT) AS n_tokens, "
        "CAST(sum(nc) AS BIGINT) AS n_chars, "
        "CAST(sum(fp) % 1152921504606846976 AS BIGINT) AS content_hash, "
        "min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id "
        "FROM s GROUP BY source"
    )


def manifest_drift_sql(
    old_where: str = "doc_id % 7 <> 0", new_where: str = "TRUE"
) -> str:
    """Mirror of ``dedup.manifest_drift`` over two WHERE-filtered
    manifest views of ``documents`` (the registered-query shape: old =
    last snapshot, new = current corpus). Both snapshots build from
    ``_manifest_core_sql`` — the fingerprint convention has one SQL
    home."""

    def manifest(where: str) -> str:
        return (
            "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(nt) AS BIGINT) AS n_tokens, "
            "CAST(sum(fp) % 1152921504606846976 AS BIGINT) AS content_hash "
            f"FROM ({_manifest_core_sql('source', where)}) GROUP BY source"
        )

    return (
        f"WITH o AS ({manifest(old_where)}), n AS ({manifest(new_where)}) "
        "SELECT COALESCE(o.source, n.source) AS source, "
        "CASE WHEN o.source IS NULL THEN 'added' "
        "WHEN n.source IS NULL THEN 'removed' "
        "WHEN o.content_hash <> n.content_hash THEN 'changed' "
        "ELSE 'unchanged' END AS status, "
        "o.n_docs AS n_docs_old, n.n_docs AS n_docs_new, "
        "CAST(COALESCE(n.n_docs, 0) - COALESCE(o.n_docs, 0) AS BIGINT) "
        "AS docs_delta, "
        "CAST(COALESCE(n.n_tokens, 0) - COALESCE(o.n_tokens, 0) AS BIGINT) "
        "AS tokens_delta, "
        "COALESCE(o.content_hash <> n.content_hash, TRUE) AS hash_changed "
        "FROM o FULL OUTER JOIN n ON o.source = n.source"
    )


def streaming_contamination_probe_sql(
    ngram: int = 8, threshold: float = 0.01, bench_mod: int = 20
) -> str:
    """Mirror of ``streaming.streaming_contamination_probe`` with the
    bench set = docs where doc_id % bench_mod == 0 and the STREAM =
    the full documents table (bench docs probe as fully self-
    contaminated — the flag-at-ingest semantics). Emits flagged rows
    only; the threshold compares the RAW ratio (the batch
    contamination_check convention the operator mirrors) and round(6)
    is presentation only."""
    if ngram < 1:
        raise ValueError(f"ngram ({ngram}) must be >= 1")
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"threshold ({threshold}) must be in (0, 1] — the probe's "
            "emit-hits-only shape cannot express threshold 0"
        )
    return (
        f"WITH {_shingles_ngram(ngram)}, "
        f"b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {bench_mod} = 0), "
        "cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles "
        "FROM sh GROUP BY doc_id), "
        "hits AS (SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated "
        "FROM sh JOIN b ON sh.shingle = b.shingle GROUP BY sh.doc_id) "
        # the threshold compares the RAW ratio (the batch
        # contamination_check convention); round(6) is presentation
        "SELECT doc_id, n_shingles, n_contaminated, "
        "round(raw, 6) AS contamination_ratio FROM "
        "(SELECT h.doc_id, c.n_shingles, h.n_contaminated, "
        "CAST(h.n_contaminated AS DOUBLE) / c.n_shingles AS raw "
        "FROM hits h JOIN cnt c ON h.doc_id = c.doc_id) "
        f"WHERE raw >= {float(threshold)!r}"
    )
