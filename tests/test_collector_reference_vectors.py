"""Verbatim ports of the reference's TopDocs collector unit tests
(/root/reference/src/collector/top_score_collector.rs), pinning the
same f32 scores, DocAddresses, ordering, and error behaviors:

- the 3-doc "droopy tax" fixture with pinned scores at every
  limit/offset combination (test_top_collector_not_at_capacity,
  .._with_offset, test_top_collector_at_capacity, .._with_offset)
- stable tie-break sorting: pages are prefixes of bigger pages
  (test_top_collector_stable_sorting) and offset pagination concatenates
  back to the full ordering across segments (deterministic instances of
  the two proptest_stable_ordering_across_segments proptests)
- TopDocs::with_limit(0) fails loudly (test_top_0)
- order-by-fast-field collectors: u64/i64/f64/datetime/string values
  with Asc/Desc, limit+offset paging, missing values last
  (test_top_field_collector_*, test_fast_field_ascending_order)
- unknown / non-fast order-by fields error with the reference's message
  (test_field_does_not_exist, test_field_wrong_type)
"""

from datetime import datetime, timezone

import pytest

from tantivy_spark.query import ast
from tantivy_spark.query.searcher import Searcher


def _searcher(spark, tmp, name, rows, schema, **cfg_kw):
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader

    df = spark.createDataFrame(rows, schema)
    out = str(tmp / name)
    build_index(spark, df, out, IndexConfig(key_col="key", **cfg_kw),
                resume=False)
    return Searcher(IndexReader(spark, out))


# --------------------------------------------- the make_index() fixture

@pytest.fixture(scope="module")
def droopy_searcher(spark, tmp_path_factory):
    # top_score_collector.rs make_index(): one segment, three docs
    rows = [("0", "Hello happy tax payer."),
            ("1", "Droopy says hello happy tax payer"),
            ("2", "I like Droopy")]
    return _searcher(spark, tmp_path_factory.mktemp("droopy"), "idx", rows,
                     "key STRING, text STRING",
                     n_segments=1, text_col="text", segment_expr="0")


def _score_docs(s, q, k, offset=0):
    return [(r["score"], r["doc_id"])
            for r in s.search(q, k=k, offset=offset).collect()]


def _assert_results(got, want):
    # assert_results_equals: same DocAddresses, scores to f32 tolerance
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert gs == pytest.approx(ws, rel=1e-5)


def test_top_collector_not_at_capacity_without_offset(droopy_searcher):
    # top_score_collector.rs:139-160 — limit 4 over 3 matches
    got = _score_docs(droopy_searcher, "droopy tax", k=4)
    _assert_results(got, [(0.81221175, 1), (0.5376842, 2), (0.48527452, 0)])


def test_top_collector_not_at_capacity_with_offset(droopy_searcher):
    # :162-179 — limit 4, offset 2
    got = _score_docs(droopy_searcher, "droopy tax", k=4, offset=2)
    _assert_results(got, [(0.48527452, 0)])


def test_top_collector_at_capacity(droopy_searcher):
    # :181-199 — limit 2
    got = _score_docs(droopy_searcher, "droopy tax", k=2)
    _assert_results(got, [(0.81221175, 1), (0.5376842, 2)])


def test_top_collector_at_capacity_with_offset(droopy_searcher):
    # :201-223 — limit 2, offset 1
    got = _score_docs(droopy_searcher, "droopy tax", k=2, offset=1)
    _assert_results(got, [(0.5376842, 2), (0.48527452, 0)])


def test_top_collector_stable_sorting(droopy_searcher):
    # :225-263 — AllQuery gives a constant score; growing the limit must
    # keep earlier pages as exact prefixes (stable DocAddress tie-break)
    pages = [_score_docs(droopy_searcher, ast.AllQuery(), k=k)
             for k in (1, 2, 3)]
    assert [len(p) for p in pages] == [1, 2, 3]
    first = pages[2][0][0]
    assert all(s == first for p in pages for s, _ in p)
    assert pages[1] == pages[2][:2]
    assert pages[0] == pages[2][:1]


def test_top_0(droopy_searcher):
    # :486-490 — with_limit(0) panics in the reference
    with pytest.raises(ValueError, match="strictly greater than 0"):
        droopy_searcher.search("droopy tax", k=0)


# -------------------- stable ordering across segments with pagination
# (deterministic instances of the two proptests, :265-470)

@pytest.fixture(scope="module")
def paging_searcher(spark, tmp_path_factory):
    # 3 segments holding [3, 2, 4] identical one-token docs: every doc
    # scores the same for TermQuery("x") (same tf, same fieldnorm,
    # GLOBAL df), the worst case for ordering stability
    sizes = [3, 2, 4]
    rows, n = [], 0
    for seg, sz in enumerate(sizes):
        for _ in range(sz):
            rows.append((f"{n:02d}", seg, "x"))
            n += 1
    return _searcher(spark, tmp_path_factory.mktemp("paging"), "idx", rows,
                     "key STRING, seg INT, text STRING",
                     n_segments=3, text_col="text", segment_expr="seg")


@pytest.mark.parametrize("query", ["allquery", "termquery"])
def test_stable_ordering_across_segments_with_pagination(
        paging_searcher, query):
    s = paging_searcher
    q = ast.AllQuery() if query == "allquery" else ast.TermQuery("x")
    total = 9

    full_scored = _score_docs_addr(s, q, k=total)
    assert len(full_scored) == total
    first = full_scored[0][0]
    assert all(score == first for score, _ in full_scored)
    full = [addr for _, addr in full_scored]

    # 1) increasing limit preserves prefix ordering
    for k in range(1, total + 1):
        page = [a for _, a in _score_docs_addr(s, q, k=k)]
        assert page == full[:k]

    # 2) offset+limit pages match the corresponding slice
    for offset in range(total):
        remaining = total - offset
        for limit in {1, max(remaining // 2, 1), remaining}:
            page = [a for _, a in _score_docs_addr(s, q, k=limit,
                                                   offset=offset)]
            assert page == full[offset:offset + limit]

    # 3) concatenating fixed-size pages reproduces the full order
    for page_size in range(1, 6):
        concat, offset = [], 0
        while offset < total:
            size = min(page_size, total - offset)
            concat += [a for _, a in _score_docs_addr(s, q, k=size,
                                                      offset=offset)]
            offset += size
        assert concat == full


def _score_docs_addr(s, q, k, offset=0):
    return [(r["score"], (r["segment_ord"], r["doc_id"]))
            for r in s.search(q, k=k, offset=offset).collect()]


# --------------------------------------------- order-by-fast-field

@pytest.fixture(scope="module")
def beer_searcher(spark, tmp_path_factory):
    # :492-530 / :888-905 — "size" u64 FAST field, incl. one doc with
    # no size at all
    rows = [("0", "bottle of beer", 12),
            ("1", "growler of beer", 64),
            ("2", "pint of beer", 16),
            ("3", "empty beer", None)]
    return _searcher(spark, tmp_path_factory.mktemp("beer"), "idx", rows,
                     "key STRING, title STRING, size LONG",
                     n_segments=1, text_col="title", segment_expr="0",
                     fast_field_cols=["size"])


def _vals(s, q, field, order, k, offset=0):
    return [(r["value"], r["doc_id"])
            for r in s.search_order_by(q, field, order=order, k=k,
                                       offset=offset).collect()]


def test_top_field_collector_not_at_capacity(beer_searcher):
    # :492-530 — Desc by size over the three "beer" matches with a size
    assert _vals(beer_searcher, ast.BooleanQuery(
        [(ast.Occur.MUST, ast.TermQuery("beer")),
         (ast.Occur.MUST_NOT, ast.TermQuery("empty"))]),
        "size", "desc", k=4) == [(64, 1), (16, 2), (12, 0)]


def test_fast_field_ascending_order(beer_searcher):
    # :860-919 — Asc by size; the size-less doc sorts LAST (None after
    # every Some, the NoneLower comparator)
    assert _vals(beer_searcher, "beer", "size", "asc", k=4) == \
        [(12, 0), (16, 2), (64, 1), (None, 3)]


def test_field_does_not_exist(beer_searcher):
    # :773-794 — ordering by an unknown field fails loudly
    with pytest.raises(ValueError,
                       match="Field `missing_field` is not a fast field"):
        beer_searcher.search_order_by("beer", "missing_field", k=4)


def test_field_not_fast_field(beer_searcher):
    # :796-826 — "title" exists but is not a fast field: same error the
    # reference raises from check_schema ("Field `size` is not a fast
    # field.")
    with pytest.raises(ValueError,
                       match="Field `title` is not a fast field"):
        beer_searcher.search_order_by("beer", "title", k=4)
    # "score" is the BM25 key of search_order_by_keys, not a fast field:
    # ordering by it must fail, not silently sort by BM25
    with pytest.raises(ValueError,
                       match="Field `score` is not a fast field"):
        beer_searcher.search_order_by("beer", "score", k=4)


def test_top_field_collector_i64_and_f64(spark, tmp_path):
    # :558-618 — i64 and f64 altitude columns, Desc over AllQuery
    for coltype in ("LONG", "DOUBLE"):
        lo, hi = (-1, 40) if coltype == "LONG" else (-1.0, 40.0)
        s = _searcher(spark, tmp_path, f"alt_{coltype}",
                      [("0", "georgetown", lo), ("1", "tokyo", hi)],
                      f"key STRING, city STRING, altitude {coltype}",
                      n_segments=1, text_col="city", segment_expr="0",
                      fast_field_cols=["altitude"])
        assert _vals(s, ast.AllQuery(), "altitude", "desc", k=3) == \
            [(40, 1), (-1, 0)]


def test_top_field_collector_datetime(spark, tmp_path):
    # :532-556 — date fast field, Desc
    pr = datetime(1898, 4, 9, tzinfo=timezone.utc)
    mr = datetime(1947, 11, 8, tzinfo=timezone.utc)
    s = _searcher(spark, tmp_path, "bday",
                  [("0", "Paul Robeson", pr), ("1", "Minnie Riperton", mr)],
                  "key STRING, name STRING, birthday TIMESTAMP",
                  n_segments=1, text_col="name", segment_expr="0",
                  fast_field_cols=["birthday"])
    got = _vals(s, ast.AllQuery(), "birthday", "desc", k=3)
    assert [d for _, d in got] == [1, 0]
    assert got[0][0] > got[1][0]


def test_top_field_collector_string(spark, tmp_path):
    # :620-700 — string fast field, every Desc/Asc limit/offset block
    s = _searcher(spark, tmp_path, "cities",
                  [("0", "austin"), ("1", "greenville"), ("2", "tokyo")],
                  "key STRING, city STRING",
                  n_segments=1, text_col="city", segment_expr="0",
                  fast_field_cols=["city"])
    q = ast.AllQuery()

    assert _vals(s, q, "city", "desc", 3) == \
        [("tokyo", 2), ("greenville", 1), ("austin", 0)]
    assert _vals(s, q, "city", "desc", 2) == \
        [("tokyo", 2), ("greenville", 1)]
    assert _vals(s, q, "city", "desc", 3, offset=3) == []
    assert _vals(s, q, "city", "desc", 2, offset=1) == \
        [("greenville", 1), ("austin", 0)]
    assert _vals(s, q, "city", "asc", 3) == \
        [("austin", 0), ("greenville", 1), ("tokyo", 2)]
    assert _vals(s, q, "city", "asc", 2, offset=1) == \
        [("greenville", 1), ("tokyo", 2)]
    assert _vals(s, q, "city", "asc", 2) == \
        [("austin", 0), ("greenville", 1)]
    assert _vals(s, q, "city", "asc", 3, offset=3) == []


# ------------------------------------------------- FacetCollector ports
# (/root/reference/src/collector/facet_collector.rs)

def _facet_searcher(spark, tmp, name, rows, n_segments=1, segment_expr="0"):
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query.exact import ExactSearcher

    df = spark.createDataFrame(rows, "key STRING, facet STRING")
    out = str(tmp / name)
    build_index(spark, df, out, IndexConfig(
        key_col="key", n_segments=n_segments, segment_expr=segment_expr,
        field_cols={"facet": "facet"},
        field_analyzers={"facet": "facet"}), resume=False)
    return ExactSearcher(IndexReader(spark, out))


def test_facet_collector_simple(spark, tmp_path):
    # facet_collector.rs test_facet_collector_simple — top_k under
    # /facet is (/facet/b, 2)
    from tantivy_spark.query.facets import (
        FacetCollector, search_facets,
    )

    s = _facet_searcher(spark, tmp_path, "fsimple",
                        [("0", "/facet/a"), ("1", "/facet/b"),
                         ("2", "/facet/b"), ("3", "/facet/c")])
    counts = search_facets(s, ast.AllQuery(),
                           FacetCollector("facet").add_facet("/facet"))
    assert counts.top_k("/facet", 1) == [("/facet/b", 2)]
    assert counts.get("/facet") == [("/facet/a", 1), ("/facet/b", 2),
                                    ("/facet/c", 1)]


def test_facet_collector_drilldown(spark, tmp_path):
    # test_facet_collector_drilldown — 60 distinct /top/mid/leaf facets
    # over 600 docs; children of /top1 each collapse to 50 docs
    from tantivy_spark.query.facets import FacetCollector, search_facets

    num = 3 * 4 * 5
    facets = []
    for n in range(num):
        top, n2 = n % 3, n // 3
        mid, leaf = n2 % 4, (n2 // 4) % 5
        facets.append(f"/top{top}/mid{mid}/leaf{leaf}")
    rows = [(f"{i:03d}", facets[i % num]) for i in range(num * 10)]
    s = _facet_searcher(spark, tmp_path, "fdrill", rows,
                        n_segments=2, segment_expr="pmod(cast(key as int), 2)")
    counts = search_facets(s, ast.AllQuery(),
                           FacetCollector("facet").add_facet("/top1"))
    assert counts.get("/top1") == [("/top1/mid0", 50), ("/top1/mid1", 50),
                                   ("/top1/mid2", 50), ("/top1/mid3", 50)]


def test_misused_facet_collector():
    # test_misused_facet_collector pins the panic message
    from tantivy_spark.query.facets import FacetCollector

    fc = FacetCollector("facet").add_facet("/country")
    with pytest.raises(ValueError, match="descendant of an already added"):
        fc.add_facet("/country/europe")


def test_doc_unsorted_multifacet(spark, tmp_path):
    # test_doc_unsorted_multifacet — ONE doc carrying four facets under
    # two subjects: each child of /subjects still counts the doc once
    from tantivy_spark.query.facets import FacetCollector, search_facets

    s = _facet_searcher(spark, tmp_path, "fmulti",
                        [("0", "/subjects/A/a\n/subjects/B/a"
                               "\n/subjects/A/b\n/subjects/B/b")])
    counts = search_facets(s, ast.AllQuery(),
                           FacetCollector("facet").add_facet("/subjects"))
    got = counts.get("/subjects")
    assert got == [("/subjects/A", 1), ("/subjects/B", 1)]


def test_doc_search_by_facet(spark, tmp_path):
    # test_doc_search_by_facet — a TermQuery on any ancestor facet
    # counts every doc at or below it (ancestor-prefix tokens)
    s = _facet_searcher(spark, tmp_path, "fsearch",
                        [("0", "/A/A"), ("1", "/A/B"),
                         ("2", "/A/C/A"), ("3", "/D/C/A")])

    def count_facet(path):
        return s.count(ast.TermQuery(path, field="facet"))

    assert count_facet("/") == 4
    assert count_facet("/A") == 3
    assert count_facet("/A/B") == 1
    assert count_facet("/A/C") == 1
    assert count_facet("/A/C/A") == 1
    assert count_facet("/C/A") == 0


# ---------------------------------------------- HistogramCollector ports
# (/root/reference/src/collector/histogram_collector.rs)

def test_histogram_i64(spark, tmp_path):
    # test_histogram_i64 — [-20..20) in 4 buckets of 10 over values
    # 12, -30, -12, -10: [-30] too low is IGNORED -> [1, 1, 0, 1]
    s = _searcher(spark, tmp_path, "hist",
                  [("0", "a", 12), ("1", "a", -30),
                   ("2", "a", -12), ("3", "a", -10)],
                  "key STRING, text STRING, val LONG",
                  n_segments=1, text_col="text", segment_expr="0",
                  fast_field_cols=["val"])
    assert s.histogram(ast.AllQuery(), "val", -20, 10, 4) == [1, 1, 0, 1]
    # too-high values are ignored too (test_histogram_too_high_is_ignored):
    # [-30..-20) catches only -30; -12/-10/12 fall past the last bucket
    assert s.histogram(ast.AllQuery(), "val", -30, 2, 5) == \
        [1, 0, 0, 0, 0]


def test_histogram_merge(spark, tmp_path):
    # test_histogram_merge — same histogram with one doc per segment
    s = _searcher(spark, tmp_path, "histm",
                  [("0", 0, "a", 12), ("1", 1, "a", -30),
                   ("2", 2, "a", -12), ("3", 3, "a", -10)],
                  "key STRING, seg INT, text STRING, val LONG",
                  n_segments=4, text_col="text", segment_expr="seg",
                  fast_field_cols=["val"])
    assert s.histogram(ast.AllQuery(), "val", -20, 10, 4) == [1, 1, 0, 1]


def test_histogram_empty_match(spark, tmp_path):
    # test_no_segments — an empty doc set yields all-zero counts
    s = _searcher(spark, tmp_path, "histe",
                  [("0", "a", 1)], "key STRING, text STRING, val LONG",
                  n_segments=1, text_col="text", segment_expr="0",
                  fast_field_cols=["val"])
    assert s.histogram(ast.EmptyQuery(), "val", 0, 2, 5) == [0] * 5


def test_histogram_dates(spark, tmp_path):
    # test_histogram_dates — ~year-wide buckets from 1980-01-01 (the
    # reference passes 365 days in NANOSECONDS); birthdays in 1982/
    # 1986/1983 land in buckets 2, 6, 3
    s = _searcher(spark, tmp_path, "histd",
                  [("0", "a", datetime(1982, 9, 17, tzinfo=timezone.utc)),
                   ("1", "a", datetime(1986, 3, 9, tzinfo=timezone.utc)),
                   ("2", "a", datetime(1983, 9, 27, tzinfo=timezone.utc))],
                  "key STRING, text STRING, d TIMESTAMP",
                  n_segments=1, text_col="text", segment_expr="0",
                  fast_field_cols=["d"])
    week = 3_600_000_000_000 * 24 * 365
    got = s.histogram(ast.AllQuery(), "d",
                      datetime(1980, 1, 1, tzinfo=timezone.utc), week, 10)
    assert got == [0, 0, 1, 1, 0, 0, 1, 0, 0, 0]


# ------------------------------------------------ sort_key module ports
# (/root/reference/src/collector/sort_key/mod.rs make_index: 3 segments,
# city TEXT|FAST, catchphrase TEXT, altitude FAST f64, id FAST u64)

@pytest.fixture(scope="module")
def city_searcher(spark, tmp_path_factory):
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader

    rows = [("0", 0, 0, "austin", "Hills, Barbeque, Glow", 149.0),
            ("1", 1, 0, "greenville", "Grow, Glow, Glow", 27.0),
            ("2", 2, 1, "tokyo", "Glow, Glow, Glow", 40.0),
            ("3", 3, 2, None, "No, No, No", 0.0)]
    df = spark.createDataFrame(
        rows, "key STRING, id LONG, seg INT, city STRING, "
              "catchphrase STRING, altitude DOUBLE")
    out = str(tmp_path_factory.mktemp("sortkey") / "idx")
    build_index(spark, df, out, IndexConfig(
        key_col="key", n_segments=3, segment_expr="seg",
        field_cols={"city": "city", "catchphrase": "catchphrase"},
        fast_field_cols=["id", "city", "altitude"]), resume=False)
    return Searcher(IndexReader(spark, out))


def _keys_ids(s, q, keys, k, offset=0, val=None):
    rows = s.search_order_by_keys(q, keys, k=k, offset=offset).collect()
    if val is None:
        return [int(r["key"]) for r in rows]
    return [(r[val], int(r["key"])) for r in rows]


def test_order_by_string_sortkey(city_searcher):
    # test_order_by_string: asc/desc over doc ranges; None LAST both ways
    q = ast.AllQuery()
    assert _keys_ids(city_searcher, q, [("city", "asc")], 4, val="city") \
        == [("austin", 0), ("greenville", 1), ("tokyo", 2), (None, 3)]
    assert _keys_ids(city_searcher, q, [("city", "asc")], 3, val="city") \
        == [("austin", 0), ("greenville", 1), ("tokyo", 2)]
    assert _keys_ids(city_searcher, q, [("city", "asc")], 2, val="city") \
        == [("austin", 0), ("greenville", 1)]
    assert _keys_ids(city_searcher, q, [("city", "asc")], 1, val="city") \
        == [("austin", 0)]
    # doc_range 1..3 == offset 1, k 2
    assert _keys_ids(city_searcher, q, [("city", "asc")], 2, offset=1,
                     val="city") == [("greenville", 1), ("tokyo", 2)]
    assert _keys_ids(city_searcher, q, [("city", "desc")], 4, val="city") \
        == [("tokyo", 2), ("greenville", 1), ("austin", 0), (None, 3)]
    assert _keys_ids(city_searcher, q, [("city", "desc")], 2, offset=1,
                     val="city") == [("greenville", 1), ("austin", 0)]
    assert _keys_ids(city_searcher, q, [("city", "desc")], 1, val="city") \
        == [("tokyo", 2)]


def test_order_by_f64_sortkey(city_searcher):
    # test_order_by_f64: limit 3 over altitude
    q = ast.AllQuery()
    assert _keys_ids(city_searcher, q, [("altitude", "asc")], 3,
                     val="altitude") == [(0.0, 3), (27.0, 1), (40.0, 2)]
    assert _keys_ids(city_searcher, q, [("altitude", "desc")], 3,
                     val="altitude") == [(149.0, 0), (40.0, 2), (27.0, 1)]


def test_order_by_score_sortkey(city_searcher):
    # test_order_by_score: pinned multi-segment BM25 scores for "glow"
    q = ast.TermQuery("glow", field="catchphrase")
    want = [(0.5604893, 2), (0.4904281, 1), (0.35667497, 0)]
    got = _keys_ids(city_searcher, q, [("score", "desc")], 4, val="score")
    assert [d for _, d in got] == [d for _, d in want]
    for (gs, _), (ws, _) in zip(got, want):
        assert abs(gs - ws) <= 1e-5 * abs(ws)
    got = _keys_ids(city_searcher, q, [("score", "asc")], 4, val="score")
    assert [d for _, d in got] == [0, 1, 2]


def test_order_by_score_then_string(city_searcher):
    # test_order_by_score_then_string / _then_owned_value: AllQuery
    # scores are all 1.0, city breaks the tie; None last either way
    q = ast.AllQuery()
    rows = city_searcher.search_order_by_keys(
        q, [("score", "asc"), ("city", "asc")], k=4).collect()
    assert [(r["score"], r["city"], int(r["key"])) for r in rows] == \
        [(1.0, "austin", 0), (1.0, "greenville", 1),
         (1.0, "tokyo", 2), (1.0, None, 3)]
    rows = city_searcher.search_order_by_keys(
        q, [("score", "asc"), ("city", "desc")], k=4).collect()
    assert [(r["city"], int(r["key"])) for r in rows] == \
        [("tokyo", 2), ("greenville", 1), ("austin", 0), (None, 3)]


def test_sortkey_errors(city_searcher):
    with pytest.raises(ValueError, match="strictly greater"):
        city_searcher.search_order_by_keys(
            ast.AllQuery(), [("city", "asc")], k=0)
    with pytest.raises(ValueError, match="not a fast field"):
        city_searcher.search_order_by_keys(
            ast.AllQuery(), [("nope", "asc")], k=1)
    with pytest.raises(ValueError, match="asc"):
        city_searcher.search_order_by_keys(
            ast.AllQuery(), [("city", "sideways")], k=1)
