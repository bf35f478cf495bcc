"""The benchmark's workloads: which registered queries one pass runs,
over inputs of which size.

``pass_budget_s`` fixes the work of a timed window: a window of
``--seconds`` s runs ``passes(seconds)`` passes, a count computed from
these constants and never from a measurement, so two commits measured
with the same arguments do the same work. It is a sizing constant, not
a pass time: at the benchmark's 20 s the window holds 3 text_search
passes (about 5.5 s each on 4 cores) and 4 graph_loops passes (about
8 s each), as many as the run-time budget allows (README.md, "Warm-up
and noise").
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.datagen import Scale


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    scale: Scale
    pass_budget_s: float

    def passes(self, seconds: float) -> int:
        """Passes in a timed window of about ``seconds`` s; at least two,
        so a median pass exists."""
        return max(2, round(seconds / self.pass_budget_s))


WORKLOADS = {
    # Scan/shuffle/aggregate work in operators.text that never enters
    # the loop code: the bypass case, flat under a graph-only change.
    # tfidf_files adds the jar's file program (programs, the sources
    # text sink and its read-back), so a gain for the in-memory path
    # that costs the write path shows here too. The corpus has the
    # repository's sf0.1 document count (5,000).
    "text_search": Workload(
        queries=(
            "doc_word_count",
            "tfidf",
            "search_top10",
            "bm25_search",
            "inverted_index",
            "tfidf_files",
        ),
        scale=Scale(suppliers=10, parts=200, lineitems=6_000, documents=5_000),
        pass_budget_s=6.0,
    ),
    # The iterative loops of operators.graph and plans.iterative, bound
    # by Spark job count and driver time (~100 jobs a pass), which the
    # loop-kernel and job-folding work targets: hits_top20 runs its own
    # loop in operators.graph, wiki_pagerank parses wiki pages
    # (functions.wiki) and runs pagerank through plans.iterative. Loop
    # cost is set by job count more than by rows, so the link graph is
    # the repository's sf0.01 one and the page set its 500 documents.
    "graph_loops": Workload(
        queries=("hits_top20", "wiki_pagerank"),
        scale=Scale(suppliers=100, parts=2_000, lineitems=60_000, documents=500),
        pass_budget_s=5.0,
    ),
}
