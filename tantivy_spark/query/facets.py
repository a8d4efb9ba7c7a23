"""FacetCollector analogue — hierarchical facet counting over a query's
matching docs (ref: src/collector/facet_collector.rs).

Facet fields index with the ``"facet"`` analyzer (analyzer.facet_tokens,
mirroring facet_tokenizer.rs): every facet value emits the root facet
``/`` plus one token per ancestor prefix, so

- ``TermQuery`` on any ancestor path counts every doc at or below it
  (facet_collector.rs test_doc_search_by_facet), and
- the collector's per-child counts are exactly the doc frequencies of
  the DIRECT children of each requested root, restricted to the query's
  match set — deeper descendants collapse into the child automatically
  because the child's ancestor token is present in those docs (the
  reference's compute_collapse_mapping does the same collapse over its
  term dictionary, facet_collector.rs:279-337).

Execution is fully distributed: one regex-filtered postings scan per
request (all roots share it), a semi-join against the match set, and a
small groupBy — never a driver-side walk of the facet dictionary.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


class FacetCollector:
    """Collects counts of the direct children of each added facet root
    (ref: FacetCollector::for_field + add_facet)."""

    def __init__(self, field: str | None = None):
        self.field = field
        self.roots: list[str] = []

    def add_facet(self, path: str) -> "FacetCollector":
        path = path.rstrip("/") if path != "/" else ""
        for r in self.roots:
            if path != r and path.startswith(r + "/") or (r == "" and path):
                # facet_collector.rs test_misused_facet_collector pins
                # this panic message
                raise ValueError(
                    "Tried to add a facet which is a descendant of an "
                    "already added facet.")
            if r != path and r.startswith(path + "/") or (path == "" and r):
                raise ValueError(
                    "Tried to add a facet which is an ancestor of an "
                    "already added facet.")
        self.roots.append(path)
        return self


class FacetCounts:
    """Query result: (facet, count) pairs for the direct children of
    every requested root (ref: FacetCounts::get / top_k)."""

    def __init__(self, rows: list[tuple[str, int]]):
        self._rows = sorted(rows)

    def get(self, path: str) -> list[tuple[str, int]]:
        """Direct children of ``path`` in facet (lexicographic) order."""
        path = path.rstrip("/")
        pat = re.compile(re.escape(path) + r"/[^/]+$")
        return [(f, c) for f, c in self._rows if pat.fullmatch(f)]

    def top_k(self, path: str, k: int) -> list[tuple[str, int]]:
        """The ``k`` heaviest children of ``path``, count-descending."""
        kids = self.get(path)
        kids.sort(key=lambda fc: (-fc[1], fc[0]))
        return kids[:k]


def facet_counts_df(searcher, q, collector: FacetCollector):
    """Distributed form of the collector: a DataFrame of
    ``(facet STRING, cnt BIGINT)`` — one row per direct child of every
    requested root that has at least one matching doc.  ``search_facets``
    collects this; keep using the DataFrame directly when the counts
    feed further relational work (the 100 TB path)."""
    from tantivy_spark.index.build import FIELD_SEP, FIELDNORM_SENTINEL
    from tantivy_spark.query import ast

    reader = searcher.reader
    pref = ""
    if reader.field_cols:
        fld = collector.field or reader.default_field
        pref = f"{fld}{FIELD_SEP}"
    alts = "|".join(
        re.escape(pref) + re.escape(root) + "/[^/]+" for root in collector.roots)
    if not alts:
        return None
    term_cond = (~F.col("term").startswith(FIELDNORM_SENTINEL)
                 & F.col("term").rlike(f"^(?:{alts})$"))

    # decode (term, doc) pairs for the child terms only
    from tantivy_spark.query.exact import decode_rows
    flat = decode_rows(reader.postings.filter(term_cond))

    matched = searcher.matching(q, scoring=False) \
        if not isinstance(q, ast.AllQuery) else None
    hits = flat.select("term", "segment_ord", "doc_id")
    if matched is not None:
        hits = hits.join(matched.select("segment_ord", "doc_id"),
                         ["segment_ord", "doc_id"], "left_semi")
    strip = len(pref) + 1
    return (hits.distinct().groupBy("term")
            .agg(F.count("*").cast("bigint").alias("cnt"))
            .select(F.substring("term", strip, 2 ** 30).alias("facet"),
                    "cnt"))


def search_facets(searcher, q, collector: FacetCollector) -> FacetCounts:
    """Run ``collector`` over the docs matching ``q`` — the analogue of
    ``searcher.search(&query, &facet_collector)``.

    ``searcher`` is an ExactSearcher (or anything exposing ``matching``
    and a ``reader``).  The per-root child terms are matched with ONE
    codegen'd regex filter on the postings scan; counts come from the
    match-set semi-join, so a query-restricted facet drill-down costs
    the same shape as a TermSetQuery."""
    df = facet_counts_df(searcher, q, collector)
    if df is None:
        return FacetCounts([])
    return FacetCounts([(r["facet"], int(r["cnt"])) for r in df.collect()])
