"""Exact declarative scorer: lowers a Query tree to a DataFrame program.

This is the correctness-oracle execution path: pure Catalyst-optimizable
filters and aggregates over the decoded postings, BM25 in float64 with a
fixed association order so results are bit-reproducible across engines
(the DuckDB oracle mirrors the same expression shapes).  The WAND kernel
(wand.py) must return the same top-k.

Boolean and disjunction-max queries lower one way — like the
reference's one Weight per query walking each term's postings once
(boolean_weight.rs): ONE postings scan whose rows explode into the clause
slots carrying their term, then ONE groupBy(segment_ord, doc_id) with a
conditional aggregate per clause; occurs and scores are expressions over
those per-clause columns.

Positional queries lower one way too (``ExactSearcher._positional``): a
list of clauses, each a list of slots, each slot a term set plus a
position shift.  ONE positions scan's rows explode into every slot whose
term set holds their term; a groupBy(clause, doc, shifted position)
counts the slots present (slop=0), or the per-slot positions feed the
sloppy kernels (slop>0).  A PhraseQuery is one clause of single-term
slots, a RegexPhraseQuery one clause whose slots are the pattern
expansions, and a PhrasePrefixQuery one clause per expansion, a doc
scoring by its best clause.

Scale notes: the only data that moves is the posting rows of the query's
terms (parquet IN-filter pushdown on ``term``); scoring is whole-stage
codegen'd JVM arithmetic; top-k is ``TakeOrderedAndProject`` (per-partition
heap + driver merge, the exact analogue of the reference's per-segment
TopNComputer + merge_fruits, src/collector/top_score_collector.rs), and
the driver reads only the k hits' docmap rows for their keys.
"""

from __future__ import annotations

import math
import re
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tantivy_spark import B, K1
from tantivy_spark.fieldnorm import FIELD_NORMS_TABLE
from tantivy_spark.index.build import decode_chunk
from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query import ast

FLAT_SCHEMA = "term STRING, segment_ord INT, doc_id INT, tf BIGINT, fieldnorm_id INT"
FLAT_POS_SCHEMA = FLAT_SCHEMA + ", pos INT"


def idf64(doc_freq: int, total_docs: int) -> float:
    """float64 idf — ln(1 + (N - df + 0.5)/(df + 0.5)) (bm25.rs:52-56)."""
    return math.log(1.0 + (total_docs - doc_freq + 0.5) / (doc_freq + 0.5))


def _edit_distance_row(q: str, t: str, transpositions: bool) -> list[int]:
    """Last row of the edit-distance DP of ``q`` against ``t``: cell j is
    edit(q, t[:j]); ``transpositions`` selects restricted
    Damerau-Levenshtein (fuzzy_query.rs:85-93).  The last cell is the
    (symmetric) full distance, the minimum the prefix distance of the
    reference's prefix DFA (build_prefix_dfa: 'jap' matches 'japan' at
    0).  Runs on tiny candidate sets only."""
    lq, lt = len(q), len(t)
    prev2 = None
    prev = list(range(lt + 1))      # edit(q[:0], t[:j]) = j
    for i in range(1, lq + 1):
        cur = [i] + [0] * lt
        for j in range(1, lt + 1):
            cost = 0 if q[i - 1] == t[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (transpositions and i > 1 and j > 1
                    and q[i - 1] == t[j - 2] and q[i - 2] == t[j - 1]):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev


def _term_regex(pattern: str):
    """Filter column: ``term`` fully matches ``pattern``.  An invalid
    pattern fails loudly at plan time (regex_query.rs test_pattern_error),
    not as an executor-side Java stack trace mid-scan."""
    try:
        re.compile(pattern)
    except re.error as e:
        raise ValueError(f"invalid regex pattern {pattern!r}: {e}") from e
    return F.col("term").rlike(f"^(?:{pattern})$")


def _phrase_slots(term_sets: list[list[str]], offsets=None) -> list:
    """A phrase's positional slots: term set i at phrase offset
    ``offsets[i]`` (default i) shifts its positions by ``max_off - off``,
    so every slot of one occurrence lands on the same position."""
    offs = list(range(len(term_sets))) if offsets is None else list(offsets)
    return [(ts, max(offs) - off) for ts, off in zip(term_sets, offs)]


def fastfield_filter(df: DataFrame, q: "ast.FastFieldRangeQuery") -> DataFrame:
    """Rows of a columnar (fast-field) table satisfying a
    FastFieldRangeQuery — the predicate pushes into the parquet scan
    (min/max row-group pruning), the reference's lazy fast-field range
    evaluation (range_query_fastfield.rs).  Bounds may be numbers or
    datetimes (RFC3339 literals parse to naive-UTC datetimes)."""
    col = F.col(q.field)
    out = df
    if q.lower is not None:
        out = out.filter(col >= F.lit(q.lower) if q.lower_inclusive
                         else col > F.lit(q.lower))
    if q.upper is not None:
        out = out.filter(col <= F.lit(q.upper) if q.upper_inclusive
                         else col < F.lit(q.upper))
    return out


def _rewrite_fastfield_terms(q: "ast.Query", reader, scoring: bool) -> "ast.Query":
    """TermQuery on a FAST-only (unindexed) column falls back to a
    columnar equality filter over the docmap — the reference's
    fast-field fallback (term_query.rs tests
    test_term_query_fallback_to_fastfield / _text_fast_only /
    _fastfield_with_scores_errors).  When scoring is required the
    reference raises SchemaError (the field has no postings to score
    with); mirrored here as ValueError.  Subtrees under
    ConstScoreQuery don't need statistics, so the flag drops there."""
    def is_fallback(node: "ast.TermQuery") -> bool:
        f = node.field
        if not f or f not in reader.fast_field_cols:
            return False
        return not (reader.field_cols and f in reader.field_cols)

    def coerce(field: str, v):
        if not isinstance(v, str):
            return v
        dtype = dict(reader.docmap.dtypes).get(field, "")
        try:
            if dtype in ("bigint", "int", "smallint", "tinyint"):
                return int(v)
            if dtype in ("double", "float") or dtype.startswith("decimal"):
                return float(v)
            if dtype == "boolean":
                return v.lower() == "true"
        except ValueError:
            pass
        return v

    def walk(node, scoring_here: bool):
        if isinstance(node, ast.TermQuery) and is_fallback(node):
            if scoring_here:
                raise ValueError(
                    f"SchemaError: TermQuery on FAST-only field "
                    f"{node.field!r} cannot score — the field is not "
                    f"indexed (reference term_query.rs fallback "
                    f"requires scoring disabled)")
            v = coerce(node.field, node.term)
            return ast.FastFieldRangeQuery(node.field, v, v)
        if isinstance(node, ast.BooleanQuery):
            return ast.BooleanQuery(
                [(occ, walk(c, scoring_here)) for occ, c in node.clauses],
                minimum_should_match=node.minimum_should_match)
        if isinstance(node, ast.BoostQuery):
            return ast.BoostQuery(walk(node.child, scoring_here), node.boost)
        if isinstance(node, ast.ConstScoreQuery):
            return ast.ConstScoreQuery(walk(node.child, False), node.score)
        if isinstance(node, ast.DisjunctionMaxQuery):
            return ast.DisjunctionMaxQuery(
                [walk(c, scoring_here) for c in node.disjuncts],
                tie_breaker=node.tie_breaker)
        return node

    if not reader.fast_field_cols:
        return q
    return walk(q, scoring)


#: the postings columns ``build.decode_chunk`` reads (no WAND block-max)
DECODE_COLS = ["term", "segment_ord", "docs", "tfs", "fns", "last_docs",
               "n_docs", "bits_doc", "bits_tf"]


def decode_rows(rows: DataFrame, with_positions: bool = False) -> DataFrame:
    """Posting rows -> one row per posting (``FLAT_SCHEMA``) or, with
    positions, per occurrence (``FLAT_POS_SCHEMA``): one Arrow decode
    kernel over only the columns it decodes, so the scan reads no more."""
    def decode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            terms, segs, docs, tfs, fns, poss = [], [], [], [], [], []
            for row in pdf.itertuples(index=False):
                d, t, fn, p = decode_chunk(row, with_positions)
                n = len(d)
                terms.append(np.full(n, row.term, dtype=object))
                segs.append(np.full(n, row.segment_ord, dtype=np.int32))
                docs.append(d.astype(np.int32))
                tfs.append(t)
                fns.append(fn.astype(np.int32))
                if with_positions:
                    poss.append(p.astype(np.int32))
            if not terms:
                continue
            out = {
                "term": np.concatenate(terms),
                "segment_ord": np.concatenate(segs),
                "doc_id": np.concatenate(docs),
                "tf": np.concatenate(tfs),
                "fieldnorm_id": np.concatenate(fns),
            }
            if with_positions:
                # one row per occurrence: repeat doc rows tf times
                rep = np.repeat(np.arange(len(out["doc_id"])),
                                out["tf"].astype(np.int64))
                flat_pos = np.concatenate(poss)
                out = {k: v[rep] for k, v in out.items()}
                out["pos"] = flat_pos
            yield pd.DataFrame(out)

    cols = DECODE_COLS + (["pos"] if with_positions else [])
    schema = FLAT_POS_SCHEMA if with_positions else FLAT_SCHEMA
    return rows.select(*cols).mapInPandas(decode, schema=schema)


#: the scored columns of a hit; ``top_k(..., reader)`` appends ``key``
SCORE_COLS = ["segment_ord", "doc_id", "score"]


def ranked(df: DataFrame, keys: list, k: int, offset: int,
           cols: list) -> DataFrame:
    """The lazy half of :func:`top_k`: rows 1..offset+k of ``df`` by
    ``keys`` then DocAddress ascending (top_score_collector.rs:26-28),
    projected to ``cols`` — a root TakeOrderedAndProject (per-partition
    heap + driver merge): one job, no exchange, no global sort."""
    order = [*keys, F.asc("segment_ord"), F.asc("doc_id")]
    return df.orderBy(*order).limit(k + offset).select(*cols)


def top_k(df: DataFrame, keys: list, k: int, offset: int, cols: list,
          reader: IndexReader | None = None) -> DataFrame:
    """Every collector's top-k tail: ``(rank, *cols[, key])`` of rows
    offset+1..offset+k of ``df`` by ``keys`` then DocAddress ascending
    (offset per top_score_collector.rs:93-96), in rank order.

    Eager: one Spark job selects and collects the offset+k rows
    (:func:`ranked`); the driver drops the first ``offset`` and numbers
    the ranks.  ``reader``: the driver appends each hit's ``key``, read
    with pyarrow from the docmap rows of the k hits only
    (``IndexReader.lookup``) — like the reference, which reads stored
    fields only for collected hits, no job scans the docmap.  Returns a
    local DataFrame of at most k rows (collecting it runs no job); the
    driver holds O(k + offset) rows."""
    import pyarrow.compute as pc
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
    from pyspark.sql.types import IntegerType, StructField, StructType

    top = ranked(df, keys, k, offset, cols)
    fields = [StructField("rank", IntegerType(), False), *top.schema.fields]
    hits = top.collect()[offset:]
    rows = [(offset + i + 1, *h) for i, h in enumerate(hits)]
    if reader is not None:
        addrs = [(h["segment_ord"], h["doc_id"]) for h in hits]
        keyed = reader.lookup(
            "docmap", ["segment_ord", "doc_id", "key"],
            pc.field("segment_ord").isin(sorted({s for s, _ in addrs}))
            & pc.field("doc_id").isin(sorted({d for _, d in addrs})),
            keys=sorted(set(addrs)))
        # the filter is per column, so it also passes pairs that are no
        # hit; the dict picks the hits, and a hit without a docmap row
        # has no key (an inner join)
        key_of = dict(zip(zip(keyed.column("segment_ord").to_pylist(),
                              keyed.column("doc_id").to_pylist()),
                          keyed.column("key").to_pylist()))
        rows = [(*r, key_of[a]) for r, a in zip(rows, addrs) if a in key_of]
        fields.append(StructField(
            "key", from_arrow_type(keyed.schema.field("key").type)))
    schema = StructType(fields)
    table = (LocalDataToArrowConversion.convert(rows, schema, False) if rows
             else to_arrow_schema(schema).empty_table())
    return df.sparkSession.createDataFrame(table, schema)


class ExactSearcher:
    """Query executor over an IndexReader (f64 declarative path)."""

    def __init__(self, reader: IndexReader):
        self.reader = reader
        self.N = reader.num_docs
        self._norms_arr = F.array(*[F.lit(int(v)) for v in FIELD_NORMS_TABLE.tolist()])
        self._fast_fields: DataFrame | None = None
        self._fast_key: str | None = None

    def set_fast_fields(self, df: DataFrame, key_col: str) -> "ExactSearcher":
        """Attach the columnar (fast-field) table — the source table whose
        ``key_col`` matches the index's document keys.  Enables
        FastFieldRangeQuery (the reference's range_query_fastfield.rs
        reads the same values from its column store)."""
        self._fast_fields = df
        self._fast_key = key_col
        return self

    # ------------------------------------------------------------------ io
    def flat_postings(self, terms: list[str], with_positions: bool = False) -> DataFrame:
        """Decoded postings for a term set: one scan, Arrow decode kernel."""
        if with_positions and not self.reader.with_positions:
            # the reference's schema error for a positions query against
            # a field indexed without them (phrase_query/mod.rs — "field
            # does not have positions"); fail loudly on the driver
            # instead of an opaque executor decode crash
            raise ValueError(
                "The field does not have positions indexed: the index at "
                f"{self.reader.index_dir!r} was built with "
                "with_positions=False, so phrase / positional queries "
                "cannot run against it")
        return decode_rows(self.reader.postings_for_terms(terms),
                           with_positions)

    # -------------------------------------------------------------- scoring
    def _score_col(self, weight, kb):
        """BM25 f64 column over (tf, fieldnorm_id) with baked weight.

        Fixed shape: w * tf / (tf + K1*(1-B) + kb * qnorm), kb = K1*B/avg
        — association order mirrored exactly by the DuckDB oracle builder.
        ``avg`` is the searched FIELD's average fieldnorm (multi-field
        indexes score per field, bm25.rs semantics).  ``weight`` and
        ``kb`` are floats or columns.
        """
        qnorm = F.element_at(self._norms_arr, F.col("fieldnorm_id") + 1).cast("double")
        tf = F.col("tf").cast("double")
        return (F.lit(weight) * tf
                / (tf + F.lit(K1 * (1.0 - B)) + F.lit(kb) * qnorm))

    def _term_slots(self, slots: list[tuple[int, str, float]],
                    dfs: dict[str, int]) -> DataFrame:
        """(segment_ord, doc_id, clause, score) of the term clauses
        ``(clause, term, boost)`` from ONE postings scan and decode; a
        slot struct bakes its weight and K1*B/avg, so each row evaluates
        a lone term query's f64 expression.  df 0 weights only terms
        without postings or MUST_NOT terms, whose scores nothing reads."""
        structs = [
            F.struct(F.lit(i).alias("clause"), F.lit(t).alias("t"),
                     F.lit(idf64(dfs.get(t, 0), self.N) * (1.0 + K1) * b)
                     .alias("w"),
                     F.lit(K1 * B / self.reader.avg_fieldnorm_for_term(t))
                     .alias("kb"))
            for i, t, b in slots]
        flat = self.flat_postings(sorted({t for _, t, _ in slots}))
        tagged = flat.select(
            "segment_ord", "doc_id", "tf", "fieldnorm_id",
            F.explode(F.filter(F.array(*structs),
                               lambda s: s["t"] == F.col("term")))
            .alias("__slot"))
        return tagged.select(
            "segment_ord", "doc_id", F.col("__slot.clause").alias("clause"),
            self._score_col(F.col("__slot.w"), F.col("__slot.kb"))
            .alias("score"))

    def _clause_scores(self, clauses: list[ast.Query],
                       dfs: dict[str, int]) -> DataFrame:
        """(segment_ord, doc_id, s_0..s_{n-1}) per doc matching ANY clause,
        ``s_i`` = clause i's score or NULL.  (Boosted) term clauses share
        one tagged scan, others lower recursively under their tag; a
        clause has at most one row per doc, so ``max`` returns it."""
        slots, frames = [], []
        for i, c in enumerate(clauses):
            b, inner = 1.0, c
            while isinstance(inner, ast.BoostQuery):
                b, inner = b * inner.boost, inner.child
            if isinstance(inner, ast.TermQuery):
                slots.append((i, inner.term, b))
            else:
                frames.append(self._lower(c, 1.0, dfs).select(
                    "segment_ord", "doc_id", F.lit(i).alias("clause"), "score"))
        if slots:
            frames.insert(0, self._term_slots(slots, dfs))
        tagged = reduce(DataFrame.unionByName, frames)
        return tagged.groupBy("segment_ord", "doc_id").agg(*[
            F.max(F.when(F.col("clause") == i, F.col("score"))).alias(f"s_{i}")
            for i in range(len(clauses))])

    # ------------------------------------------------------------- matching
    def matching(self, q: ast.Query, boost: float = 1.0,
                 scoring: bool = True) -> DataFrame:
        """(segment_ord, doc_id, score) for every matching *alive* doc.

        Deleted docs are filtered from the match set, but BM25 statistics
        keep including them until a merge — the reference's alive-bitset
        semantics (ARCHITECTURE.md:59-64).  On multi-field indexes the
        tree is first rewritten to field-qualified dictionary keys.

        ``scoring=False`` is the reference's EnableScoring::Disabled:
        non-scoring collectors (count, order-by-fast-field, facet,
        histogram, agg doc sets, delete-by-query) pass it so the
        fast-field TermQuery fallback is permitted; scoring consumers
        keep the default and the fallback raises the schema error
        (term_query.rs test_term_query_fastfield_with_scores_errors).
        An explicit parameter, not searcher state — reentrant across
        concurrent queries."""
        q = _rewrite_fastfield_terms(q, self.reader, scoring)
        if self.reader.field_cols:
            q = ast.qualify(q, self.reader.default_field)
        dfs = self.reader.doc_freqs(q.terms())
        out = self._lower(q, boost, dfs)
        dels = self.reader.deletes
        if dels is not None:
            out = out.join(F.broadcast(dels), ["segment_ord", "doc_id"], "left_anti")
        return out

    def _lower(self, q: ast.Query, boost: float, dfs: dict[str, int]) -> DataFrame:
        r = self.reader
        if isinstance(q, ast.TermQuery):
            return self._term_slots([(0, q.term, boost)], dfs).drop("clause")
        if isinstance(q, ast.BoostQuery):
            return self._lower(q.child, boost * q.boost, dfs)
        if isinstance(q, ast.ConstScoreQuery):
            child = self._lower(q.child, 1.0, dfs)
            return child.select("segment_ord", "doc_id",
                                F.lit(float(q.score) * boost).alias("score"))
        if isinstance(q, ast.AllQuery):
            return r.docmap.select("segment_ord", "doc_id",
                                   F.lit(1.0 * boost).alias("score"))
        if isinstance(q, ast.EmptyQuery):
            return r.docmap.select("segment_ord", "doc_id",
                                   F.lit(0.0).alias("score")).limit(0)
        if isinstance(q, ast.TermSetQuery):
            flat = self.flat_postings(q.set_terms)
            return (flat.filter(F.col("term").isin(q.set_terms))
                    .select("segment_ord", "doc_id").distinct()
                    .select("segment_ord", "doc_id", F.lit(1.0 * boost).alias("score")))
        if isinstance(q, ast.PhraseQuery):
            _, hits = self._positional(
                [_phrase_slots([[t] for t in q.phrase_terms], q.offsets)],
                q.slop)
            idf_sum = sum(idf64(dfs.get(t, 0), self.N) for t in q.phrase_terms)
            return self._phrase_scores(hits, [idf_sum], [q.phrase_terms[0]],
                                       boost).drop("clause")
        if isinstance(q, ast.PhrasePrefixQuery):
            # expansion order is the term-dictionary (lexicographic) order,
            # like the reference's prefix range scan taking the first
            # max_expansions terms (phrase_prefix_query.rs:29,123)
            expansions = self._dictionary_terms(
                [F.col("term").startswith(q.prefix)], q.max_expansions)
            if not expansions:
                return self._lower(ast.EmptyQuery(), boost, dfs)
            # one phrase clause per expansion, all in one scan; a doc
            # scores via its best expansion (max), mirroring "any
            # expansion matches at the last slot"
            phrases = [q.phrase_terms + [e] for e in expansions]
            dfs = self.reader.doc_freqs(q.phrase_terms + expansions)
            _, hits = self._positional(
                [_phrase_slots([[t] for t in p]) for p in phrases])
            scores = self._phrase_scores(
                hits, [sum(idf64(dfs.get(t, 0), self.N) for t in p)
                       for p in phrases], [p[0] for p in phrases])
            return scores.groupBy("segment_ord", "doc_id").agg(
                (F.max("score") * F.lit(boost)).alias("score"))
        if isinstance(q, ast.RegexPhraseQuery):
            # each slot is its pattern's expansion; a phrase start is an
            # aligned position where every slot has a matching term
            slot_terms = []
            for pat in q.patterns:
                slot_terms.append(self._expand_regex(pat, q.max_expansions))
                if not slot_terms[-1]:
                    return self._lower(ast.EmptyQuery(), boost, dfs)
            tagged, hits = self._positional([_phrase_slots(slot_terms)])
            # per-slot doc freq = docs containing any of the slot's terms
            # (the summed-idf weight, bm25.rs:120-128): ONE grouped job
            # over the tagged occurrences
            df_rows = (tagged.select("slot", "segment_ord", "doc_id")
                       .distinct().groupBy("slot")
                       .agg(F.count("*").alias("df")).collect())
            slot_dfs = {int(r["slot"]): int(r["df"]) for r in df_rows}
            idf_sum = sum(idf64(slot_dfs.get(i, 0), self.N)
                          for i in range(len(slot_terms)))
            return self._phrase_scores(hits, [idf_sum], [slot_terms[0][0]],
                                       boost).drop("clause")
        if isinstance(q, ast.MoreLikeThisQuery):
            sel = self.select_mlt_terms(
                q.doc_text, q.max_query_terms, q.min_term_freq,
                min_doc_freq=q.min_doc_freq, max_doc_freq=q.max_doc_freq,
                min_word_length=q.min_word_length,
                max_word_length=q.max_word_length, stop_words=q.stop_words)
            if not sel:
                return self._lower(ast.EmptyQuery(), boost, dfs)
            sub = ast.BooleanQuery([(ast.Occur.SHOULD, ast.TermQuery(t))
                                    for t in sel])
            return self._lower(sub, boost * float(q.boost_factor),
                               self.reader.doc_freqs(sel))
        if isinstance(q, ast.DisjunctionMaxQuery):
            g = self._clause_scores(q.disjuncts, dfs)
            # scores are strictly positive, so 0.0-filling keeps max correct
            # and gives the oracle an engine-independent NULL discipline
            cols = [F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
                    for i in range(len(q.disjuncts))]
            mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
            total = reduce(lambda a, b: a + b, cols)
            tb = float(q.tie_breaker)
            score = (mx + F.lit(tb) * (total - mx)) * F.lit(boost)
            return g.select("segment_ord", "doc_id", score.alias("score"))
        if isinstance(q, ast.TermRangeQuery):
            # fully distributed: the range predicate is pushed down to the
            # postings parquet scan (min/max row-group pruning on the sorted
            # `term` layout) — no driver-side dictionary materialization, no
            # expansion cap, matching range_query.rs:16-31 which streams the
            # FST range into a bitset without ever listing terms
            cond = F.lit(True)
            if q.lower is not None:
                cond = cond & (F.col("term") >= q.lower if q.lower_inclusive
                               else F.col("term") > q.lower)
            if q.upper is not None:
                cond = cond & (F.col("term") <= q.upper if q.upper_inclusive
                               else F.col("term") < q.upper)
            return self._const_docs_matching(cond, boost)
        if isinstance(q, ast.FastFieldRangeQuery):
            if q.field in self.reader.fast_field_cols:
                # the column is stored ON the docmap (IndexConfig.
                # fast_field_cols): the range predicate pushes straight
                # into the docmap parquet scan — join-free, the
                # reference's per-segment fast-field file read
                return (fastfield_filter(self.reader.docmap, q)
                        .select("segment_ord", "doc_id",
                                F.lit(1.0 * boost).alias("score")))
            if self._fast_fields is None:
                raise ValueError(
                    f"FastFieldRangeQuery({q.field!r}): not an indexed "
                    f"fast field; attach a source table via "
                    f"set_fast_fields(df, key_col)")
            # the range filter pushes into the fast-field (source) scan;
            # matching keys then resolve to DocAddresses through docmap
            keys = fastfield_filter(self._fast_fields, q) \
                .select(F.col(self._fast_key).alias("key"))
            return (self.reader.docmap.join(keys, "key", "left_semi")
                    .select("segment_ord", "doc_id",
                            F.lit(1.0 * boost).alias("score")))
        if isinstance(q, ast.ExistsQuery):
            if (q.field is not None and self.reader.field_cols is not None
                    and q.field not in self.reader.field_cols
                    and q.field not in self.reader.fast_field_cols):
                # loud unknown-field parity (exist_query.rs:461-469
                # pins "The field does not exist: '{field}'") — an
                # unknown field must not silently count zero
                raise ValueError(f"The field does not exist: '{q.field}'")
            if q.json_path is not None:
                # json-path existence (exist_query.rs:19-27): a doc
                # matches iff some dictionary term sits under the path —
                # json leaves index as {path}= / {path}#n= / {path}#b= /
                # {path}#i= terms (functions/jsonterm.py), so the check
                # is a term-PREFIX condition on the postings scan:
                # distributed, pushdown-friendly, never a driver expand
                from tantivy_spark.index.build import FIELD_SEP
                pref = f"{q.field}{FIELD_SEP}" \
                    if self.reader.field_cols and q.field else ""
                p = pref + q.json_path
                if q.json_path == "":
                    # field root: an object root has no direct leaf term,
                    # so subpaths=False matches NOTHING; subpaths=True is
                    # "any value anywhere under the field" (the reference
                    # pins exactly this 0-vs-100 split,
                    # exist_query.rs:328-329)
                    cond = F.col("term").startswith(pref) \
                        if q.json_subpaths else F.lit(False)
                else:
                    cond = (F.col("term").startswith(p + "=")
                            | F.col("term").startswith(p + "#"))
                    if q.json_subpaths:
                        cond = cond | F.col("term").startswith(p + ".")
                return self._const_docs_matching(cond, boost)
            if q.field is not None and q.field in self.reader.fast_field_cols:
                # fast-field existence = non-null columnar value; the
                # null filter pushes into the docmap parquet scan (the
                # reference walks the column index, exist_query.rs:46)
                return (self.reader.docmap
                        .filter(F.col(q.field).isNotNull())
                        .select("segment_ord", "doc_id",
                                F.lit(1.0 * boost).alias("score")))
            fld = (q.field or self.reader.default_field) \
                if self.reader.field_cols else None
            return (self.reader.fieldnorms_of(fld)
                    .filter(F.col("num_tokens") > 0)
                    .select("segment_ord", "doc_id",
                            F.lit(1.0 * boost).alias("score")))
        if isinstance(q, ast.RegexQuery):
            # distributed: the regex runs as a codegen'd filter on the
            # postings scan — no driver-side expansion, no cap (the
            # reference intersects a regex automaton with the FST, also
            # never materializing the match set — regex_query.rs)
            return self._const_docs_matching(_term_regex(q.pattern), boost)
        if isinstance(q, ast.FuzzyTermQuery):
            terms = self._expand_fuzzy(
                q.term, q.distance, q.prefix,
                transposition_cost_one=q.transposition_cost_one)
            if not terms:
                return self._lower(ast.EmptyQuery(), boost, dfs)
            # CONSTANT score, like every automaton query in the reference:
            # FuzzyTermQuery lowers to an AutomatonWeight whose scorer is
            # ConstScorer(boost) (automaton_weight.rs:109-110; the fuzzy
            # unit tests pin score == 1.0, fuzzy_query.rs:303-306) — NOT a
            # BM25 OR over the expansion
            return self._lower(ast.TermSetQuery(terms), boost, dfs)
        if isinstance(q, ast.BooleanQuery):
            return self._boolean(q, boost, dfs)
        if isinstance(q, ast.CustomQuery):
            # the user-defined Query/Scorer extension point: the plug-in
            # produces the (segment_ord, doc_id, score) frame itself
            return q.lower_fn(self, boost)
        raise NotImplementedError(type(q).__name__)

    def _boolean(self, q: ast.BooleanQuery, boost: float, dfs: dict[str, int]) -> DataFrame:
        """Occurs as predicates on the ``_clause_scores`` columns: all
        musts non-NULL; without musts, >= minimum_should_match (and >= 1)
        shoulds non-NULL; all nots NULL.  Score: musts then 0.0-filled
        shoulds, summed left to right, times boost (the oracle's order)."""
        musts = [c for occ, c in q.clauses if occ == ast.Occur.MUST]
        shoulds = [c for occ, c in q.clauses if occ == ast.Occur.SHOULD]
        nots = [c for occ, c in q.clauses if occ == ast.Occur.MUST_NOT]
        if not musts and not shoulds:
            return self._lower(ast.EmptyQuery(), boost, dfs)
        g = self._clause_scores(musts + shoulds + nots, dfs)
        cols = [F.col(f"s_{i}") for i in range(len(q.clauses))]
        nm, ns = len(musts), len(shoulds)
        m_cols, s_cols, n_cols = cols[:nm], cols[nm:nm + ns], cols[nm + ns:]
        if musts:
            cond = reduce(lambda a, b: a & b, [c.isNotNull() for c in m_cols])
        else:
            matched = reduce(lambda a, b: a + b,
                             [F.when(c.isNotNull(), 1).otherwise(0) for c in s_cols])
            cond = matched >= max(q.minimum_should_match, 1)
        for c in n_cols:
            cond = cond & c.isNull()
        score_cols = m_cols + [F.coalesce(c, F.lit(0.0)) for c in s_cols]
        score = reduce(lambda a, b: a + b, score_cols) * F.lit(boost)
        return g.filter(cond).select("segment_ord", "doc_id", score.alias("score"))

    def _positional(self, clauses: list[list[tuple[list[str], int]]],
                    slop: int = 0) -> tuple[DataFrame, DataFrame]:
        """Every positional query's one lowering: the ``(clause, slot,
        terms, shift)`` structs of all clauses (:func:`_phrase_slots`) tag
        the rows of ONE positions scan.  Returns the tagged occurrences
        (clause, slot, segment_ord, doc_id, fieldnorm_id, apos) and the
        (clause, segment_ord, doc_id, fieldnorm_id, tf) of every doc
        matching a clause.  slop=0: within one field a position holds one
        token, so an apos counting all the clause's slots is an occurrence
        (phrase_scorer.rs:364-383).  slop>0 (one clause): ONE groupBy per
        doc collects each slot's sorted positions, docs missing a slot
        drop out, and an Arrow-batched kernel runs the carrying-slop
        algorithm (phrase_scorer.rs:437-507, mirrored in sloppy.py)."""
        structs = [
            F.struct(F.lit(c).alias("clause"), F.lit(i).alias("slot"),
                     F.array(*map(F.lit, terms)).alias("terms"),
                     F.lit(shift).alias("shift"))
            for c, slots in enumerate(clauses)
            for i, (terms, shift) in enumerate(slots)]
        flat = self.flat_postings(
            sorted({t for slots in clauses for ts, _ in slots for t in ts}),
            with_positions=True)
        tagged = (flat.select(
            "segment_ord", "doc_id", "fieldnorm_id", "pos",
            F.explode(F.filter(F.array(*structs), lambda s: F.array_contains(
                s["terms"], F.col("term")))).alias("__slot"))
            .select(F.col("__slot.clause").alias("clause"),
                    F.col("__slot.slot").alias("slot"),
                    "segment_ord", "doc_id", "fieldnorm_id",
                    (F.col("pos") + F.col("__slot.shift")).alias("apos")))
        doc = ["clause", "segment_ord", "doc_id", "fieldnorm_id"]
        if slop == 0:
            n_slots = F.element_at(
                F.array(*[F.lit(len(slots)) for slots in clauses]),
                F.col("clause") + 1)
            hits = (tagged.groupBy(*doc, "apos")
                    .agg(F.count(F.lit(1)).alias("nmatch"))
                    .filter(F.col("nmatch") == n_slots)
                    .groupBy(*doc).agg(F.count("*").alias("tf")))
            return tagged, hits
        pos_cols = [f"pos{i}" for i in range(len(clauses[0]))]
        cur = (tagged.groupBy(*doc)
               .agg(*[F.sort_array(F.collect_list(
                   F.when(F.col("slot") == i, F.col("apos")))).alias(c)
                   for i, c in enumerate(pos_cols)])
               .filter(reduce(lambda a, b: a & b,
                              [F.size(c) > 0 for c in pos_cols])))
        slop = int(slop)
        from pyspark.sql.functions import pandas_udf

        if len(pos_cols) == 2:
            # hot shape: doc-PARALLEL numpy automaton — one vectorized
            # step advances every candidate doc's two-pointer state at
            # once (sloppy.py sloppy_count_two_batch; equivalence
            # property-tested)
            @pandas_udf("integer")
            def sloppy_tf(p0: pd.Series, p1: pd.Series) -> pd.Series:
                from tantivy_spark.query.sloppy import sloppy_count_two_batch
                return pd.Series(sloppy_count_two_batch(p0, p1, slop),
                                 dtype="int32")
        else:
            # n>2: the carrying-slop automaton, equally doc-PARALLEL
            # (sloppy.py sloppy_phrase_count_batch chains
            # sloppy_carrying_batch stages; equivalence with the per-doc
            # reference kernel is property-tested)
            @pandas_udf("integer")
            def sloppy_tf(*pos_cols: pd.Series) -> pd.Series:
                from tantivy_spark.query.sloppy import (
                    sloppy_phrase_count_batch)
                return pd.Series(
                    sloppy_phrase_count_batch(list(pos_cols), slop),
                    dtype="int32")

        hits = (cur.withColumn("tf", sloppy_tf(*[F.col(c) for c in pos_cols]))
                .filter(F.col("tf") > 0).select(*doc, "tf"))
        return tagged, hits

    def _phrase_scores(self, hits: DataFrame, idf_sums: list[float],
                       first_terms: list[str],
                       boost: float = 1.0) -> DataFrame:
        """(clause, segment_ord, doc_id, score): clause c of ``hits``
        scores as one phrase — weight ``idf_sums[c]`` * (1+K1) * boost,
        the K1*B/avg of its first term (bm25.rs:120-128)."""
        w, kb = [F.element_at(F.array(*map(F.lit, v)), F.col("clause") + 1)
                 for v in ([s * (1.0 + K1) * boost for s in idf_sums],
                           [K1 * B / self.reader.avg_fieldnorm_for_term(t)
                            for t in first_terms])]
        return hits.select("clause", "segment_ord", "doc_id",
                           self._score_col(w, kb).alias("score"))

    def select_mlt_terms(self, doc_text: str, max_terms: int = 10,
                         min_tf: int = 1, min_doc_freq: int = 1,
                         max_doc_freq: int | None = None,
                         min_word_length: int = 0,
                         max_word_length: int | None = None,
                         stop_words: list[str] | None = None) -> list[str]:
        """MoreLikeThis term selection: top terms of the reference text by
        tf*idf, tie-break term asc, with the reference's filtering options
        (more_like_this.rs:50-77, 282-314: min/max doc frequency, min term
        frequency, word length bounds, stop words)."""
        from collections import Counter

        from tantivy_spark.analyzer import tokenize_series

        stop = set(stop_words or ())
        toks = list(pd.Series([doc_text]).pipe(tokenize_series)[0])
        toks = [t for t in toks
                if len(t) >= min_word_length
                and (max_word_length is None or len(t) <= max_word_length)
                and t not in stop]
        if self.reader.field_cols:
            # multi-field: statistics live under the default field's
            # qualified keys; the returned terms are qualified too (they
            # feed straight into TermQuery postings lookups)
            from tantivy_spark.index.build import qualify_term
            toks = [qualify_term(t, self.reader.default_field) for t in toks]
        tfs = {t: c for t, c in Counter(toks).items() if c >= min_tf}
        if not tfs:
            return []
        dfs = self.reader.doc_freqs(list(tfs))
        scored = [
            (t, tfs[t] * idf64(dfs[t], self.N))
            for t in tfs
            if dfs[t] >= max(min_doc_freq, 1)
            and (max_doc_freq is None or dfs[t] <= max_doc_freq)
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return [t for t, _ in scored[:max_terms]]

    # ----------------------------------------------- distributed term match
    def _const_docs_matching(self, term_cond, boost: float) -> DataFrame:
        """(segment_ord, doc_id, const score) of docs containing ANY
        dictionary term satisfying ``term_cond`` — the multi-term const-
        score path for range/regex queries.

        Stays fully distributed: the predicate filters the postings scan
        itself (never a driver collect), so a range matching millions of
        dictionary terms costs one scan + one distinct, independent of the
        dictionary size.  The fieldnorm sentinel row is excluded explicitly
        (its term "\\x00fieldnorms" sorts below every real term and would
        otherwise fall into open-lower ranges)."""
        from tantivy_spark.index.build import FIELDNORM_SENTINEL

        flat = decode_rows(self.reader.postings.filter(
            ~F.col("term").startswith(FIELDNORM_SENTINEL) & term_cond))
        return (flat.select("segment_ord", "doc_id").distinct()
                .select("segment_ord", "doc_id",
                        F.lit(1.0 * boost).alias("score")))

    # ------------------------------------------------------- dict expansion
    def _dictionary_terms(self, conds: list, limit: int) -> list[str]:
        """The first ``limit`` distinct dictionary terms passing the
        filters ``conds``, in lexicographic order at any parallelism.  One
        sorted take: a streaming-built index has one ``term_stats`` row
        per published batch and term, so the first ``limit`` x batches
        rows hold the first ``limit`` distinct terms."""
        per_term = max(1, len(self.reader.manifest.get("batches") or ()))
        base = self.reader.term_stats
        for cond in conds:
            base = base.filter(cond)
        rows = base.select("term").orderBy("term") \
            .limit(limit * per_term).collect()
        return list(dict.fromkeys(r["term"] for r in rows))[:limit]

    def _expand_regex(self, pattern: str, cap: int = 1024) -> list[str]:
        """First ``cap`` dictionary terms matching ``pattern``.  Used where
        per-term statistics are needed driver-side (RegexPhraseQuery
        slots); RegexQuery itself stays distributed."""
        return self._dictionary_terms([_term_regex(pattern)], cap)

    def _expand_fuzzy(self, term: str, distance: int, prefix: bool,
                      cap: int = 1024, transposition_cost_one: bool = False
                      ) -> list[str]:
        """Dictionary terms within edit distance ``distance`` of ``term``
        (ref: fuzzy_query.rs; Levenshtein_distance/transpositions per
        :85-93).  Driver materialization is intrinsic here (each expansion
        scores with its own idf), so instead of silently truncating we
        fail loudly past ``cap`` — like wand.py's delete-bitset guard.

        Distance is capped at 2 like the reference's static automaton
        builder table (fuzzy_query.rs:114-127).

        ``transposition_cost_one`` = Damerau-Levenshtein (adjacent swap
        costs 1).  DL <= L always and L <= 2*DL, so the codegen'd coarse
        filter ``levenshtein <= 2*distance`` is a superset; the exact DL
        check then runs DISTRIBUTED (Arrow-batched UDF) *before* the
        limit, so the cap measures — and fails loudly on — the true DL
        set, never the inflated coarse set (a coarse set past the cap
        must not silently drop valid matches beyond it)."""
        from tantivy_spark.index.build import FIELD_SEP

        if not 0 <= int(distance) <= 2:
            # the reference's automaton builder table only covers
            # distances 0..=2 (fuzzy_query.rs:114-127 InvalidArgument)
            raise ValueError(
                f"Levenshtein distance of {distance} is not allowed. "
                f"Choose a value less than 3")
        conds = []
        if FIELD_SEP in term:
            # field-qualified term: candidates must stay inside the field
            # (short field names could otherwise be within edit distance)
            conds.append(F.col("term").startswith(
                term.split(FIELD_SEP, 1)[0] + FIELD_SEP))
        rest = term.split(FIELD_SEP, 1)[1] if FIELD_SEP in term else term
        if "=" in rest and not rest.startswith("="):
            # json-path fuzzy term ({path}={value} dictionary shape): the
            # reference builds the DFA over ONLY the value bytes and pins
            # the term range to the exact path prefix
            # (fuzzy_query.rs:137-151 + automaton_weight.rs:55-66), so a
            # neighbouring path within edit distance must NOT match.
            # Restricting candidates to the same `{path}=` prefix and
            # keeping full-string distances is equivalent: edit distance
            # is invariant under a shared prefix.
            path = rest.partition("=")[0]
            qual = term[: len(term) - len(rest)]
            conds.append(F.col("term").startswith(f"{qual}{path}="))
        from pyspark.sql.functions import pandas_udf

        qterm, dmax = term, int(distance)
        trans = bool(transposition_cost_one)

        @pandas_udf("boolean")
        def _within(terms_s: pd.Series) -> pd.Series:
            from tantivy_spark.query.exact import _edit_distance_row
            if prefix:
                cut = len(qterm) + dmax
                return terms_s.map(lambda t: min(_edit_distance_row(
                    qterm, t[:cut], trans)) <= dmax)
            return terms_s.map(
                lambda t: _edit_distance_row(qterm, t, True)[-1] <= dmax)

        if prefix:
            # reference new_prefix semantics (build_prefix_dfa): a
            # dictionary term matches if SOME PREFIX of it is within
            # `distance` — longer terms qualify ('jap'~1-prefix matches
            # 'japan' at prefix distance 0).  Only the first
            # len(q)+distance chars of a candidate matter (any longer
            # prefix is already > distance edits by length alone), and
            # lev(q, t[:len(q)+d]) <= 3d holds for every true match, so
            # that codegen'd filter is a cheap superset; the exact
            # prefix-(Damerau-)Levenshtein check runs DISTRIBUTED.
            conds += [(F.length("term") >= len(term) - distance)
                      & (F.levenshtein(
                          F.substring(F.col("term"), 1, len(term) + distance),
                          F.lit(term)) <= 3 * distance),
                      _within(F.col("term"))]
        else:
            coarse = 2 * distance if transposition_cost_one else distance
            conds.append((F.length("term") >= len(term) - distance)
                         & (F.length("term") <= len(term) + distance)
                         & (F.levenshtein(F.col("term"), F.lit(term)) <= coarse))
            if transposition_cost_one:
                conds.append(_within(F.col("term")))
        out = self._dictionary_terms(conds, cap + 1)
        if len(out) > cap:
            raise ValueError(
                f"fuzzy expansion of {term!r} (d<={distance}) exceeds {cap} "
                f"dictionary terms; raise the cap or narrow the query")
        return out

    # ------------------------------------------------------------ collectors
    def search(self, q: ast.Query, k: int = 10, offset: int = 0) -> DataFrame:
        """TopDocs: (rank, segment_ord, doc_id, score, key) as a local
        DataFrame of at most k rows — eager, O(k + offset) rows on the
        driver (see :func:`top_k`)."""
        return top_k(self.matching(q), [F.desc("score")], k, offset,
                     SCORE_COLS, self.reader)

    def count(self, q: ast.Query) -> int:
        """Count collector (ref: src/collector/count_collector.rs).  A
        single-term count short-circuits to the term_stats lookup."""
        q = _rewrite_fastfield_terms(q, self.reader, scoring=False)
        if self.reader.field_cols:
            q = ast.qualify(q, self.reader.default_field)
        if isinstance(q, ast.TermQuery) and self.reader.deletes is None:
            return self.reader.doc_freqs([q.term])[q.term]
        return self.matching(q, scoring=False).count()

    def explain(self, q: ast.Query, segment_ord: int, doc_id: int) -> dict:
        """Score explanation for ONE document — the analogue of
        Query::explain (ref: src/query/explanation.rs; bm25.rs:195-215
        produces the per-term idf/tf/fieldnorm breakdown).

        Returns ``{"value", "description", "details"}``: ``value`` is
        the doc's f64 score from the SAME plan ``search`` uses
        (bit-identical), ``details`` one entry per query term present
        in the doc with its BM25 components (doc_freq, idf, weight,
        tf, fieldnorm, norm, partial score).  Raises ValueError if the
        doc does not match the query."""
        if self.reader.field_cols:
            q = ast.qualify(q, self.reader.default_field)
        row = (self.matching(q)
               .filter((F.col("segment_ord") == segment_ord)
                       & (F.col("doc_id") == doc_id)).collect())
        if not row:
            raise ValueError(
                f"doc (segment_ord={segment_ord}, doc_id={doc_id}) "
                f"does not match the query")
        total = float(row[0]["score"])

        terms = q.terms()
        dfs = self.reader.doc_freqs(terms)
        details = []
        if terms:
            prows = (self.flat_postings(terms)
                     .filter((F.col("segment_ord") == segment_ord)
                             & (F.col("doc_id") == doc_id)).collect())
            by_term = {r["term"]: r for r in prows}
            for t in terms:
                r = by_term.get(t)
                if r is None:
                    continue        # term absent from this doc
                df_ = dfs.get(t, 0)
                idf = idf64(df_, self.N)
                w = idf * (1.0 + K1)
                avg = self.reader.avg_fieldnorm_for_term(t)
                fn_id = int(r["fieldnorm_id"])
                fieldnorm = int(FIELD_NORMS_TABLE[fn_id])
                tf = float(r["tf"])
                norm = K1 * (1.0 - B) + (K1 * B / avg) * fieldnorm
                details.append({
                    "term": t,
                    "doc_freq": df_,
                    "idf": idf,
                    "weight": w,
                    "tf": int(tf),
                    "fieldnorm_id": fn_id,
                    "fieldnorm": fieldnorm,
                    "norm": norm,
                    "value": w * tf / (tf + norm),
                })
        return {
            "value": total,
            "description": f"{type(q).__name__}, BM25 "
                           f"(k1={K1}, b={B}, N={self.N})",
            "details": details,
        }
