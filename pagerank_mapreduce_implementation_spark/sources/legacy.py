"""Legacy record codec: the reference's delimiter-packed text format.

The reference serializes its link-graph state as
``url \\t rank,,,,,out1#####out2#####...`` (built PageRank.java:396-411,
decoded :443-456 and :509-517, delimiters ``PR_DELIMITER`` = five
commas :35 and ``OUTLINK_LIST_DELIMITER`` = ``#####`` :36, round-trip
exercised by SplitTest.java:3-16).

The engine's native state is structured (``url: string, rank: double,
outlinks: array<string>``); this codec exists so users of the reference
can load the text files they already have (and write files the
reference's jobs could consume). Decode/encode are pure column
expressions layered over the O2/O3 text scans in sources/catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_DELIMITER = ","  * 5     # PageRank.java:35
OUTLINK_LIST_DELIMITER = "#####"  # PageRank.java:36


def decode_pagerank_records(kv: DataFrame) -> DataFrame:
    """``(key, value)`` text records -> ``(url, rank, outlinks)``.

    Mirrors the reference's decode exactly (PageRank.java:443-456):
    the value is split on the five-comma delimiter with NO limit and a
    page has outlinks only when the split yields EXACTLY two pieces
    (the reference's ``hasOriginalPRAndOutlinkList`` length==2 guard) —
    a value whose outlink segment itself contains ``,,,,,`` splits into
    3+ pieces and is treated as dangling, exactly like the reference.
    An absent/empty outlink segment is also dangling (empty array —
    the reference guards with isEmpty, :463).

    The reference's encoder appends ``#####`` after EVERY outlink
    (PageRank.java:405, re-emitted verbatim at :528), so real files look
    like ``0.25,,,,,a#####b#####``. Java's ``String.split`` drops
    TRAILING empty strings; Spark's ``F.split`` keeps them, which would
    both inflate out_degree with phantom ``''`` edges and break the
    length==2 guard on trailing ``,,,,,`` runs. We reproduce Java's
    exact semantics by stripping trailing delimiter runs before each
    split — interior empties (an empty ``[[]]`` link) survive in both
    engines.
    """
    # Java split semantics: trailing empties dropped -> strip trailing
    # ,,,,, runs, then an unlimited split; piece count == Java's length.
    stripped = F.regexp_replace(F.col("value"), f"({PR_DELIMITER})+$", "")
    parts = F.split(stripped, PR_DELIMITER, -1)
    # F.get / try_cast: malformed rows (no delimiter, non-numeric rank)
    # become NULL rank / empty outlinks instead of failing the job under
    # ANSI mode — callers filter rank IS NULL to quarantine bad records.
    outseg = F.when(
        F.size(parts) == 2,
        F.regexp_replace(F.get(parts, 1), f"({OUTLINK_LIST_DELIMITER})+$", ""),
    )
    return kv.select(
        F.col("key").alias("url"),
        F.get(parts, 0).try_cast("double").alias("rank"),
        F.when(
            outseg.isNull() | (outseg == ""), F.array().cast("array<string>")
        )
        .otherwise(F.split(outseg, OUTLINK_LIST_DELIMITER))
        .alias("outlinks"),
    )


def encode_pagerank_records(pages: DataFrame) -> DataFrame:
    """``(url, rank, outlinks)`` -> ``(key, value)`` in the reference's
    packed format (PageRank.java:396-411, 528).

    Every outlink is FOLLOWED by ``#####`` (the reference concatenates
    ``url + OUTLINK_LIST_DELIMITER`` per link, PageRank.java:405), so a
    page with outlinks ``[a, b]`` encodes as ``rank,,,,,a#####b#####``
    and a dangling page as ``rank,,,,,`` — byte-exact with the files
    the reference's jobs write and re-read.
    """
    outlinks = F.coalesce(F.col("outlinks"), F.array())
    return pages.select(
        F.col("url").alias("key"),
        F.concat(
            F.col("rank").cast("string"),
            F.lit(PR_DELIMITER),
            F.when(F.size(outlinks) > 0,
                   F.concat(F.array_join(outlinks, OUTLINK_LIST_DELIMITER),
                            F.lit(OUTLINK_LIST_DELIMITER)))
            .otherwise(F.lit("")),
        ).alias("value"),
    )
