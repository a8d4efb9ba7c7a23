"""Snippet generation: best highlighted fragment per document.

Reference semantics (/root/reference/src/snippet/mod.rs): given the
query's terms, score candidate fragments of at most ``max_num_chars`` by
the sum of scores of the UNIQUE terms they contain (so a fragment
mentioning two distinct query terms beats one repeating a single term),
pick the best, and emit the fragment with ``<b>..</b>`` around matches.
Term score defaults to 1.0 per unique term (the reference uses the
term's idf when built from a searcher; pass ``term_scores`` for that).

Spark shape: one Arrow-batched kernel over (id, text); token spans come
from the same alphanumeric-run regex as the analyzer, so highlight
boundaries agree with what was indexed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tantivy_spark.analyzer import PY_TOKEN_RE


def default_tokens(text: str):
    """(token_text, start, end) spans of the default analyzer's
    alphanumeric runs — the token stream ``search_fragments`` consumes
    unless a custom one is passed."""
    for m in PY_TOKEN_RE.finditer(text):
        yield m.group(0), m.start(), m.end()


def ngram_tokens(text: str, min_gram: int, max_gram: int):
    """All-position n-gram token stream, like the reference's
    ``NgramTokenizer::all_ngrams`` (start index ascending, gram size
    ascending) — used by its overlapped-highlight snippet test."""
    n = len(text)
    for i in range(n):
        for g in range(min_gram, max_gram + 1):
            if i + g <= n:
                yield text[i:i + g], i, i + g


def stemmed_tokens(text: str, chain: str):
    """Token stream of a ``{lang}_stem`` chain: default spans, stemmed
    lowercase text, ORIGINAL offsets — so a stemmed query term
    highlights the surface form (the reference's en_stem
    test_snippet_generator matches "designers" for query "design")."""
    import importlib

    from tantivy_spark.analyzer import _PY_STEMMERS

    mod_name, fn_name = _PY_STEMMERS[chain].split(":")
    stem = getattr(importlib.import_module(mod_name), fn_name)
    for tok, s, e in default_tokens(text):
        yield stem(tok.lower()), s, e


def search_fragments(text: str, term_scores: dict[str, float],
                     max_num_chars: int, tokens=None) -> list[tuple]:
    """Candidate fragments, built by streaming the token spans exactly
    like the reference (snippet/mod.rs search_fragments): a candidate
    starts at offset 0 (or at the token that overflowed the previous
    one); every token extends stop_offset; a token whose text is a query
    term adds its score and a highlight range; candidates with score 0
    are dropped.  Returns [(score, start, stop, [(hl_start, hl_end)...])].

    ``tokens`` overrides the token stream (an iterable of
    ``(text, start, end)``) — pass ``ngram_tokens``/``stemmed_tokens``
    output for non-default chains."""
    if tokens is None:
        tokens = default_tokens(text)
    frags: list[tuple] = []
    score, start, stop = 0.0, 0, 0
    hl: list[tuple[int, int]] = []
    for t, ts, te in tokens:
        if te - start > max_num_chars:
            if score > 0:
                frags.append((score, start, stop, hl))
            score, start, stop, hl = 0.0, ts, ts, []
        stop = te
        t = t.lower()
        if t in term_scores:
            score += term_scores[t]
            hl.append((ts, te))
    if score > 0:
        frags.append((score, start, stop, hl))
    return frags


def sort_and_deduplicate_ranges(
        ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort by (start, end) and drop duplicates (ref: snippet/mod.rs
    sort_and_deduplicate_ranges)."""
    return sorted(set((s, e) for s, e in ranges))


def collapse_overlapped_ranges(
        ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Collapse highlight ranges into non-overlapping ones: sort,
    dedup, then merge only TRUE overlaps — ``last.end > next.start``.
    Adjacent ranges stay separate (ref: snippet/mod.rs
    merge_overlapping_ranges and its test_adjacent_ranges /
    test_collapse_overlapped_ranges pins; the reference's doc comment
    claiming adjacent ranges merge contradicts its own code+tests)."""
    out: list[tuple[int, int]] = []
    for s, e in sort_and_deduplicate_ranges(ranges):
        if out and out[-1][1] > s:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def select_best_fragment(frags: list[tuple]) -> tuple | None:
    """Highest score; ties go to the EARLIEST fragment (the reference's
    select_best_fragment_combination ordering)."""
    best = None
    for f in frags:
        if best is None or f[0] > best[0] or \
                (f[0] == best[0] and (f[1], f[2]) < (best[1], best[2])):
            best = f
    return best


def _escape(s: str) -> str:
    """Minimal HTML escaping, like the reference's to_html."""
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;")
            .replace("'", "&#x27;"))


class Snippet:
    """A document fragment plus highlighted ranges RELATIVE to it
    (ref: snippet/mod.rs Snippet).  ``to_html`` collapses overlapping
    highlights (n-gram chains can emit them) and escapes the text."""

    def __init__(self, fragment: str = "",
                 highlighted: list[tuple[int, int]] | None = None,
                 prefix: str = "<b>", postfix: str = "</b>"):
        self.fragment = fragment
        self.highlighted = list(highlighted or [])
        self.snippet_prefix = prefix
        self.snippet_postfix = postfix

    @classmethod
    def empty(cls) -> "Snippet":
        return cls("", [], prefix="", postfix="")

    def is_empty(self) -> bool:
        return not self.highlighted

    def set_snippet_prefix_postfix(self, prefix: str, postfix: str) -> None:
        self.snippet_prefix = prefix
        self.snippet_postfix = postfix

    def to_html(self) -> str:
        out = []
        cur = 0
        for s, e in collapse_overlapped_ranges(self.highlighted):
            out.append(_escape(self.fragment[cur:s]))
            out.append(self.snippet_prefix)
            out.append(_escape(self.fragment[s:e]))
            out.append(self.snippet_postfix)
            cur = e
        out.append(_escape(self.fragment[cur:]))
        return "".join(out)


def select_best_fragment_combination(frags: list[tuple],
                                     text: str) -> Snippet:
    """Best fragment as a ``Snippet`` with fragment-relative highlights
    (ref: snippet/mod.rs select_best_fragment_combination); no scored
    fragment yields ``Snippet.empty()``."""
    best = select_best_fragment(frags)
    if best is None:
        return Snippet.empty()
    _score, start, stop, hl = best
    return Snippet(text[start:stop], [(s - start, e - start) for s, e in hl])


def _best_fragment(text: str, term_scores: dict[str, float],
                   max_num_chars: int) -> tuple[str, int]:
    """(highlighted html fragment, n_highlights) for one document."""
    snip = select_best_fragment_combination(
        search_fragments(text, term_scores, max_num_chars), text)
    return snip.to_html(), len(snip.highlighted)


class SnippetGenerator:
    """Per-query snippet generator (ref: snippet/mod.rs
    SnippetGenerator): term scores are ``1 / (1 + doc_freq)`` from the
    index's global term statistics, terms absent from the index are
    dropped, and the document tokenizer follows the field's analyzer
    chain (stemmed chains match stemmed query terms at ORIGINAL
    offsets).  Default ``max_num_chars`` is 150, like the reference."""

    def __init__(self, terms_text: dict[str, float], chain: str = "default",
                 max_num_chars: int = 150):
        self.terms_text = dict(terms_text)
        self.chain = chain
        self.max_num_chars = max_num_chars

    @classmethod
    def create(cls, searcher, query, field: str | None = None,
               chain: str | None = None) -> "SnippetGenerator":
        """Build from a searcher + query: collect the query's terms for
        ``field``, score each by 1/(1+doc_freq), drop df=0 terms (ref:
        SnippetGenerator::create + its test_snippet_generator_term_score
        pins 0.25/0.5 for df 3/1)."""
        from tantivy_spark.index.build import FIELD_SEP

        reader = searcher.reader
        fld = field or reader.default_field
        terms = sorted(set(_query_field_terms(query, fld)))
        keyed = {(f"{fld}{FIELD_SEP}{t}" if reader.field_cols else t): t
                 for t in terms}
        dfs = reader.doc_freqs(list(keyed)) if keyed else {}
        terms_text = {keyed[k]: 1.0 / (1.0 + df)
                      for k, df in dfs.items() if df > 0}
        if chain is None:
            chain = ((reader.manifest["config"].get("field_analyzers")
                      or {}).get(fld) if reader.field_cols else None) \
                or "default"
        return cls(terms_text, chain=chain)

    def set_max_num_chars(self, max_num_chars: int) -> None:
        self.max_num_chars = max_num_chars

    def _tokens(self, text: str):
        from tantivy_spark.analyzer import _PY_STEMMERS
        if self.chain in _PY_STEMMERS:
            return stemmed_tokens(text, self.chain)
        return default_tokens(text)

    def snippet(self, text: str) -> Snippet:
        frags = search_fragments(text, self.terms_text,
                                 self.max_num_chars, self._tokens(text))
        return select_best_fragment_combination(frags, text)

    def snippet_from_doc(self, doc: dict, field: str | None = None) -> Snippet:
        """Snippet from a stored document mapping: concatenates the
        field's string values with spaces and trims, like the
        reference's snippet_from_doc."""
        vals = doc.get(field) if field is not None else None
        if vals is None and len(doc) == 1:
            vals = next(iter(doc.values()))
        if not isinstance(vals, (list, tuple)):
            vals = [vals]
        text = " ".join(v for v in vals if isinstance(v, str))
        return self.snippet(text.strip())


def _query_field_terms(q, field: str | None) -> list[str]:
    """String terms of a query restricted to ``field`` (the analogue of
    Query::query_terms filtered by field in SnippetGenerator::create).
    Nodes with no field attribute inherit the requested field."""
    out: list[str] = []
    qf = getattr(q, "field", None)
    on_field = field is None or qf is None or qf == field
    t = getattr(q, "term", None)
    if isinstance(t, str) and on_field:
        out.append(t)
    for attr in ("phrase_terms", "set_terms"):
        ts = getattr(q, attr, None)
        if ts and on_field:
            out.extend(x for x in ts if isinstance(x, str))
    for _occur, c in (getattr(q, "clauses", None) or []):
        out.extend(_query_field_terms(c, field))
    child = getattr(q, "child", None)
    if child is not None:
        out.extend(_query_field_terms(child, field))
    for c in (getattr(q, "disjuncts", None) or []):
        out.extend(_query_field_terms(c, field))
    return out


def snippet_col(text_col, terms: list[str],
                term_scores: dict[str, float] | None = None,
                max_num_chars: int = 150):
    """Column expression: best highlighted fragment of ``text_col`` for
    the given (analyzed) query terms."""
    from pyspark.sql.functions import pandas_udf

    scores = {t.lower(): float((term_scores or {}).get(t, 1.0))
              for t in terms}
    mc = int(max_num_chars)

    @pandas_udf("string")
    def _snip(texts: pd.Series) -> pd.Series:
        from tantivy_spark.query.snippet import _best_fragment
        return texts.map(
            lambda t: _best_fragment(t or "", scores, mc)[0])

    return _snip(text_col)


def snippets_for_topk(topk: DataFrame, source: DataFrame, terms: list[str],
                      key_col: str = "url", text_col: str = "text",
                      term_scores: dict[str, float] | None = None,
                      max_num_chars: int = 150) -> DataFrame:
    """Attach a ``snippet`` column to a top-k result frame: broadcast the
    tiny top-k into the docstore (source) join, then run the fragment
    kernel on just those k documents — never on the corpus.  Rank order
    as in ``Searcher.fetch_docs``: one partition, no sampling job."""
    docs = (F.broadcast(topk)
            .join(source, topk["key"] == source[key_col], "inner"))
    return docs.select(
        "rank", "key", "score",
        snippet_col(F.col(text_col), terms, term_scores,
                    max_num_chars).alias("snippet"),
    ).repartition(1).sortWithinPartitions("rank")
