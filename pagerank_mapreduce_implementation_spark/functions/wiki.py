"""Wiki-XML page-line parsing expressions (O7/O8/O11 of SURVEY.md §2).

Matches the reference's PRODUCTION mapper semantics exactly
(PageRank.java:379-411), not the simplified PatternTest scratch test:

- the line is ``trim()``-ed first (PageRank.java:379)
- title:    ``<title>(.*?)</title>`` — the reference loops
            ``while (matcher0.find())`` overwriting ``mainURL``, so the
            LAST title match wins (PageRank.java:386-388)
- text:     ``<text(.*?)</text>`` — note NO closing ``>`` after
            ``text``, so attribute-bearing tags like
            ``<text xml:space="preserve">`` match; ALL text bodies on
            the line are scanned, not just the first
            (PageRank.java:391,397)
- outlinks: ``\\[\\[(.*?)\\]\\]`` repeatedly over each text body, then
            residual ``[[`` / ``]]`` are STRIPPED from each captured
            link (PageRank.java:402: ``.replace("[[","").replace("]]","")``),
            so the nested-bracket page ``[[3[[5]]]]`` yields link
            ``35`` in production (PatternTest.java's raw ``3[[5`` is
            the scratch test's behavior, not the shipped job's).

These are pure Column expressions (JVM-side, codegen'd) — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TITLE_RE = "<title>(.*?)</title>"
TEXT_RE = "<text(.*?)</text>"
LINK_RE = r"\[\[(.*?)\]\]"


def page_title(line: Column | str) -> Column:
    """Extract the page title; empty string when absent (the reference
    skips pages whose title is empty, PageRank.java:410). The LAST
    ``<title>`` match wins, mirroring the reference's find() loop
    (PageRank.java:386-388)."""
    titles = F.regexp_extract_all(line, F.lit(TITLE_RE), 1)
    return F.coalesce(F.try_element_at(titles, F.lit(-1)), F.lit(""))


def page_text_bodies(line: Column | str) -> Column:
    """ALL <text...</text bodies on the line, in order — the reference
    iterates every match (PageRank.java:392,397)."""
    return F.regexp_extract_all(line, F.lit(TEXT_RE), 1)


def strip_link_brackets(link: Column) -> Column:
    """Production link normalization: drop residual ``[[`` / ``]]``
    from a captured link (PageRank.java:402). ``]]`` cannot survive the
    lazy match, but ``[[`` can (nested brackets)."""
    return F.replace(
        F.replace(link, F.lit("[["), F.lit("")), F.lit("]]"), F.lit("")
    )


def page_outlinks(line: Column | str) -> Column:
    """All ``[[link]]`` targets across every text body, in order, with
    duplicates (each occurrence scatters rank separately,
    PageRank.java:454-468), brackets stripped per PageRank.java:402."""
    raw = F.flatten(
        F.transform(
            page_text_bodies(line),
            lambda body: F.regexp_extract_all(body, F.lit(LINK_RE), 1),
        )
    )
    return F.transform(raw, strip_link_brackets)


def parse_pages(lines):
    """O11 link-graph construction: page line -> (url, outlinks).

    Trims each line (PageRank.java:379), drops blank lines and pages
    without a title (PageRank.java:347,410).
    """
    line = F.trim(F.col("line"))
    parsed = lines.filter(F.length(line) > 0).select(
        page_title(line).alias("url"),
        page_outlinks(line).alias("outlinks"),
    )
    return parsed.filter(F.col("url") != "")
