"""Top-level search facade: parse, plan, dispatch.

The analogue of the reference's `Searcher::search` + the
`BooleanWeight::for_each_pruning` dispatch (boolean_weight.rs:581-600):
a top-k over a pure multi-term OR lowers to the block-max WAND union
kernel, a pure term AND to the WAND intersection kernel, everything else
to the exact declarative scorer.  WAND and exact return identical
rankings (tests assert it); WAND scores are float32 (reference parity),
exact scores float64 (oracle parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query import ast
from tantivy_spark.query.exact import HIT_COLS, ExactSearcher, top_k
from tantivy_spark.query.parser import QueryParser
from tantivy_spark.query.wand import wand_candidates


def _pure_term_shape(q: ast.Query) -> tuple[str, list[str], list[float]] | None:
    """Detect (possibly boosted) TermUnion / TermIntersection shapes
    eligible for the block-max WAND kernel.  Boosts bake into the per-term
    BM25 weight, exactly like the reference's Bm25Weight::boost_by."""
    if isinstance(q, ast.TermQuery):
        return ("or", [q.term], [1.0])
    if isinstance(q, ast.BoostQuery) and isinstance(q.child, ast.TermQuery):
        return ("or", [q.child.term], [float(q.boost)])
    if isinstance(q, ast.BooleanQuery):
        occs = {o for o, _ in q.clauses}
        terms: list[str] = []
        boosts: list[float] = []
        for _occ, c in q.clauses:
            b = 1.0
            while isinstance(c, ast.BoostQuery):
                b *= float(c.boost)
                c = c.child
            if not isinstance(c, ast.TermQuery):
                return None
            terms.append(c.term)
            boosts.append(b)
        if len(set(terms)) != len(terms):
            return None  # duplicate term with distinct boosts: exact path
        if occs == {ast.Occur.SHOULD} and q.minimum_should_match <= 1:
            return ("or", terms, boosts)
        if occs == {ast.Occur.MUST}:
            return ("and", terms, boosts)
    return None


class Searcher:
    def __init__(self, reader: IndexReader,
                 default_fields: list[str] | None = None,
                 field_boosts: dict[str, float] | None = None,
                 parser: QueryParser | None = None):
        """``default_fields``: fields an UNQUALIFIED term searches on a
        multi-field index (SHOULD-disjunction across them, the
        reference's multi-default-field resolution) — defaults to the
        index's first declared field.  ``field_boosts``: per-field score
        multipliers (set_field_boost, query_parser.rs:299)."""
        self.reader = reader
        self.exact = ExactSearcher(reader)
        self.parser = parser or QueryParser()
        self.default_fields = default_fields
        self.field_boosts = field_boosts

    def _as_query(self, q) -> ast.Query:
        query = self.parser.parse(q) if isinstance(q, str) else q
        if self.reader.field_cols:
            # qualify BEFORE WAND shape detection, so the kernel receives
            # field-qualified dictionary keys (idempotent — the exact
            # planner qualifies too)
            query = ast.qualify(
                query, self.default_fields or self.reader.default_field,
                field_boosts=self.field_boosts)
        return query

    def search(self, q, k: int = 10, offset: int = 0,
               method: str = "auto") -> DataFrame:
        """TopDocs: (rank, segment_ord, doc_id, score, key)."""
        if k < 1:
            # TopDocs::with_limit(0) panics in the reference
            # (top_score_collector.rs "limit must be strictly greater
            # than 0") — fail loudly, never silently return nothing
            raise ValueError("limit must be strictly greater than 0")
        query = self._as_query(q)
        if method in ("auto", "wand"):
            shape = _pure_term_shape(query)
            if shape is not None:
                mode, terms, boosts = shape
                rows = wand_candidates(self.reader, terms, k=k + offset,
                                       mode=mode, boosts=boosts)
                return top_k(rows, [F.desc("score")], k, offset, HIT_COLS,
                             self.reader.docmap)
            if method == "wand":
                raise ValueError("query shape not WAND-eligible")
        return self.exact.search(query, k=k, offset=offset)

    def count(self, q) -> int:
        return self.exact.count(self._as_query(q))

    def explain(self, q, segment_ord: int, doc_id: int) -> dict:
        """Per-doc score explanation (Query::explain analogue) — see
        ExactSearcher.explain."""
        return self.exact.explain(self._as_query(q), segment_ord, doc_id)

    def search_tweaked(self, q, tweak, k: int = 10,
                       offset: int = 0) -> DataFrame:
        """``TopDocs::tweak_score`` analogue (top_score_collector.rs:
        332-420): re-rank matches by a fast-field-aware score
        expression.  ``tweak(score_col, docs)`` receives the BM25 score
        Column and the joined docmap frame (its indexed fast-field
        columns addressable by name) and returns the new score Column —
        e.g. ``lambda s, d: s * F.log1p(d["popularity"])``.  Fully
        declarative: Catalyst fuses the segment-local docmap join and
        the expression, and the top-k lowers to TakeOrderedAndProject
        (per-partition partial top-k, k-row driver merge) — the same
        shape the reference's tweaked collector has per segment."""
        query = self._as_query(q)
        scored = self.exact.matching(query)
        docs = scored.join(self.reader.docmap,
                           ["segment_ord", "doc_id"], "inner")
        tweaked = docs.withColumn("tweaked_score",
                                  tweak(F.col("score"), docs))
        return top_k(tweaked, [F.desc("tweaked_score")], k, offset,
                     ["segment_ord", "doc_id",
                      F.col("tweaked_score").alias("score"),
                      F.col("score").alias("bm25_score"), "key"])

    def search_order_by(self, q, field: str, order: str = "desc",
                        k: int = 10, offset: int = 0) -> DataFrame:
        """``TopDocs::order_by_fast_field`` analogue
        (top_score_collector.rs order_by_u64_field /
        order_by_fast_field / order_by_string_fast_field): top-k of the
        query's matching docs ordered by an indexed fast-field COLUMN
        value instead of the BM25 score.  Works for any fast-field type
        (numeric, string, date — the column keeps its parquet type).

        Missing values sort LAST in both directions (the reference's
        default ``NoneLower`` comparator places None after every Some in
        Asc order, top_score_collector.rs test_fast_field_ascending_order)
        and ties break by DocAddress ascending, like every collector.

        Returns (rank, segment_ord, doc_id, ``value``, key): the
        one-key case of ``search_order_by_keys``.

        Unknown or non-fast fields fail loudly like the reference's
        for_segment/check_schema errors (top_score_collector.rs
        test_field_does_not_exist / test_field_wrong_type pin
        "Field `{field}` is not a fast field.") — ``"score"`` included,
        which ``search_order_by_keys`` would read as the BM25 score."""
        if field not in self.reader.fast_field_cols:
            raise ValueError(f"Field `{field}` is not a fast field.")
        return self.search_order_by_keys(q, [(field, order)], k, offset) \
            .withColumnRenamed(field, "value")

    def search_order_by_keys(self, q, keys, k: int = 10,
                             offset: int = 0) -> DataFrame:
        """Sort-key-tuple collector (ref: collector/sort_key/ —
        ``TopDocs::order_by`` over a SortKeyComputer stack): top-k of
        the query's matches by a lexicographic tuple of keys, each an
        ``(name, order)`` pair where ``name`` is ``"score"``
        (SortBySimilarityScore — the BM25 score, Asc or Desc) or an
        indexed fast-field name (SortByString / SortByStaticFastValue /
        SortByErasedType — the column keeps its parquet type).

        Missing fast-field values sort LAST under BOTH orders (the
        reference's comparators place None after every Some in Asc and
        Desc alike — sort_key/mod.rs test_order_by_string pins None
        last both ways) and ties break by DocAddress ascending.

        Returns (rank, segment_ord, doc_id, <one column per key>, key);
        the ``"score"`` key surfaces as a ``score`` column.  Fully
        declarative: the match set joins docmap segment-locally and the
        top-k lowers to TakeOrderedAndProject (per-partition partial
        top-k, k-row driver merge) — no global sort of the match set."""
        if k < 1:
            raise ValueError("limit must be strictly greater than 0")
        if not keys:
            raise ValueError("at least one sort key is required")
        sort, cols = [], []
        for name, order in keys:
            if order not in ("asc", "desc"):
                raise ValueError(
                    f"order must be 'asc' or 'desc': {order!r}")
            if name == "score":
                sort.append(F.asc("score") if order == "asc"
                            else F.desc("score"))
                cols.append("score")
            else:
                if name not in self.reader.fast_field_cols:
                    raise ValueError(
                        f"Field `{name}` is not a fast field.")
                sort.append(F.asc_nulls_last(name) if order == "asc"
                            else F.desc_nulls_last(name))
                cols.append(name)
        # score-as-key requires scoring; pure fast-field keys don't
        # (EnableScoring::Disabled for the order-by collector)
        needs_scores = any(name == "score" for name, _ in keys)
        docs = self.exact.matching(self._as_query(q),
                                   scoring=needs_scores).join(
            self.reader.docmap, ["segment_ord", "doc_id"], "inner")
        return top_k(docs, sort, k, offset,
                     ["segment_ord", "doc_id", *cols, "key"])

    def histogram_df(self, q, field: str, min_value, bucket_width,
                     num_buckets: int):
        """``HistogramCollector`` as a DataFrame: ``(bucket BIGINT,
        cnt BIGINT)``, exactly ``num_buckets`` rows, zero-filled — the
        distributed form ``histogram`` collects.  Values below
        ``min_value`` or at/after ``min_value + num_buckets *
        bucket_width`` are IGNORED (HistogramComputer::add_value drops
        out-of-range values).

        One groupBy over at most ``num_buckets`` keys — the per-segment
        partial histograms merge map-side, the same add_vecs shape the
        reference uses; the zero fill is a broadcast join against a
        ``spark.range(num_buckets)`` frame."""
        import datetime as _dt

        if field not in self.reader.fast_field_cols:
            raise ValueError(f"Field `{field}` is not a fast field.")
        docs = self.exact.matching(self._as_query(q), scoring=False).join(
            self.reader.docmap, ["segment_ord", "doc_id"], "inner")
        val = F.col(field)
        if isinstance(min_value, _dt.datetime):
            val = F.unix_micros(val)
            lo = F.unix_micros(F.lit(min_value))
            if isinstance(bucket_width, _dt.timedelta):
                width = int(bucket_width / _dt.timedelta(microseconds=1))
            else:                       # integer nanoseconds, ref unit
                width = int(bucket_width) // 1000
        else:
            lo, width = F.lit(min_value), bucket_width
        bucket = F.floor((val - lo) / F.lit(width))
        counts = (docs.select(bucket.alias("bucket"))
                  .filter((F.col("bucket") >= 0)
                          & (F.col("bucket") < num_buckets))
                  .groupBy("bucket").count())
        spark = self.reader.docmap.sparkSession
        grid = spark.range(num_buckets).select(F.col("id").alias("bucket"))
        return (grid.join(counts, "bucket", "left")
                .select("bucket",
                        F.coalesce("count", F.lit(0)).cast("bigint")
                        .alias("cnt")))

    def histogram(self, q, field: str, min_value, bucket_width,
                  num_buckets: int) -> list:
        """``HistogramCollector`` analogue (collector/
        histogram_collector.rs): fixed-width bucket counts of a fast
        field over the query's matching docs as a plain
        ``num_buckets``-long list; empty match sets yield all-zero
        counts (its test_no_segments).

        For timestamp fields pass a datetime ``min_value`` and a
        ``bucket_width`` of either a ``timedelta`` or an integer number
        of NANOSECONDS (the reference's date unit in its
        test_histogram_dates)."""
        rows = self.histogram_df(q, field, min_value, bucket_width,
                                 num_buckets).collect()
        out = [0] * num_buckets
        for r in rows:
            out[int(r["bucket"])] = int(r["cnt"])
        return out

    def aggregate(self, q, request: dict, max_buckets: int | None = None,
                  nested: bool = False):
        """ES-style aggregation request over the QUERY'S matching docs —
        the reference executes aggregations as collectors over a query's
        doc set (src/aggregation/: AggregationCollector runs inside the
        searcher).  Aggregation fields must be fast fields stored on the
        index (IndexConfig.fast_field_cols), so the matching DocAddresses
        join the columnar values segment-locally — no source-table join.
        Returns {name: DataFrame} like run_agg_tree."""
        from tantivy_spark.aggs import run_agg_tree
        from tantivy_spark.aggs.tree import DEFAULT_BUCKET_LIMIT

        query = self._as_query(q)
        matches = self.exact.matching(query, scoring=False) \
            .select("segment_ord", "doc_id")
        docs = matches.join(self.reader.docmap, ["segment_ord", "doc_id"],
                            "inner")
        return run_agg_tree(docs, request,
                            max_buckets=max_buckets or DEFAULT_BUCKET_LIMIT,
                            nested=nested)

    def term_postings(self, term: str,
                      with_positions: bool = False) -> DataFrame:
        """Decoded posting iteration for one term — the public analogue
        of the reference's docs-and-positions walk
        (examples/iterating_docs_and_positions.rs; InvertedIndexReader::
        read_postings): (segment_ord, doc_id, tf[, positions])."""
        return self.exact.flat_postings([term],
                                        with_positions=with_positions)

    def fetch_docs(self, topk: DataFrame, source: DataFrame,
                   key_col: str = "url") -> DataFrame:
        """Docstore retrieval: join the (tiny, broadcast) top-k back to the
        source table for full documents — the reference's row-store lookup
        of top hits (ARCHITECTURE.md:138-159), with the source Iceberg/
        parquet table playing the docstore."""
        return (F.broadcast(topk)
                .join(source, topk["key"] == source[key_col], "inner")
                .drop(source[key_col])
                .orderBy("rank"))
