"""End-to-end: Spark index build + exact scorer vs the pure-numpy golden
engine on the sf0.001 documents corpus (as pages)."""

import numpy as np
import pytest

from tantivy_spark.query import (
    AllQuery,
    BooleanQuery,
    BoostQuery,
    ConstScoreQuery,
    DisjunctionMaxQuery,
    Occur,
    PhraseQuery,
    TermQuery,
    TermSetQuery,
)
from tantivy_spark.query.exact import ExactSearcher

QUERIES = [
    TermQuery("the"),                                   # hot term
    TermQuery("data"),
    TermQuery("zzz_no_such_term"),
    BooleanQuery([(Occur.MUST, TermQuery("fast")), (Occur.MUST, TermQuery("scan"))]),
    BooleanQuery([(Occur.SHOULD, TermQuery("fast")), (Occur.SHOULD, TermQuery("slow"))]),
    BooleanQuery([
        (Occur.MUST, TermQuery("table")),
        (Occur.SHOULD, TermQuery("join")),
        (Occur.MUST_NOT, TermQuery("slow")),
    ]),
    BooleanQuery([(Occur.SHOULD, TermQuery("fast")), (Occur.SHOULD, TermQuery("slow"))],
                 minimum_should_match=2),
    PhraseQuery(["order", "sort"]),
    TermSetQuery(["fast", "slow", "zzz_nope"]),
    BoostQuery(TermQuery("data"), 2.5),
    ConstScoreQuery(TermQuery("data"), 0.5),
    DisjunctionMaxQuery([TermQuery("fast"), TermQuery("slow")], tie_breaker=0.3),
]


@pytest.fixture(scope="module")
def searcher(tiny_index):
    return ExactSearcher(tiny_index)


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: type(q).__name__ + "/" + "-".join(q.terms())[:30])
def test_topk_matches_golden(searcher, tiny_golden, q):
    k = 10
    got = searcher.search(q, k=k).collect()
    want = tiny_golden.top_k(q, k=k)
    got_addrs = [(r["segment_ord"], r["doc_id"]) for r in got]
    want_addrs = [(seg, doc) for _r, seg, doc, _s in want]
    assert got_addrs == want_addrs, f"{got_addrs[:5]} vs {want_addrs[:5]}"
    # f64 Spark scores vs f32 golden scores agree to f32 tolerance
    for r, (_rank, _s, _d, ws) in zip(got, want):
        assert r["score"] == pytest.approx(ws, rel=1e-5, abs=1e-6)


@pytest.mark.parametrize("q", QUERIES[:8], ids=lambda q: type(q).__name__ + "-" + "-".join(q.terms())[:25])
def test_count_matches_golden(searcher, tiny_golden, q):
    assert searcher.count(q) == tiny_golden.count(q)


def test_all_and_stats(searcher, tiny_golden, tiny_index):
    assert searcher.count(AllQuery()) == tiny_golden.num_docs
    assert tiny_index.num_docs == tiny_golden.num_docs
    assert tiny_index.total_num_tokens == tiny_golden.total_tokens
    assert tiny_index.avg_fieldnorm == pytest.approx(tiny_golden.avg_fieldnorm)


def test_doc_freqs_match(searcher, tiny_golden, tiny_index):
    terms = ["the", "data", "fast", "scan", "zzz_no_such_term"]
    got = tiny_index.doc_freqs(terms)
    for t in terms:
        assert got[t] == tiny_golden.doc_freq(t), t


def test_offset_semantics(searcher, tiny_golden):
    q = TermQuery("the")
    base = tiny_golden.top_k(q, k=15)
    got = searcher.search(q, k=5, offset=5).collect()
    want = base[5:10]
    assert [(r["segment_ord"], r["doc_id"]) for r in got] == [(s, d) for _r, s, d, _ in want]
    assert [r["rank"] for r in got] == [6, 7, 8, 9, 10]


def test_mlt_options(tiny_index):
    """MoreLikeThis filtering options (more_like_this.rs:50-77):
    stop_words, word-length bounds, min/max doc frequency."""
    from tantivy_spark.query.exact import ExactSearcher

    s = ExactSearcher(tiny_index)
    text = "the fast fast scan table merge of data"
    base = s.select_mlt_terms(text, max_terms=8)
    assert "fast" in base
    no_fast = s.select_mlt_terms(text, max_terms=8, stop_words=["fast"])
    assert "fast" not in no_fast
    long_only = s.select_mlt_terms(text, max_terms=8, min_word_length=5)
    assert all(len(t) >= 5 for t in long_only)
    # max_doc_freq excludes the ubiquitous 'the'
    dfs = tiny_index.doc_freqs(["the"])
    rare = s.select_mlt_terms(text, max_terms=8, max_doc_freq=dfs["the"] - 1)
    assert "the" not in rare
    # min_doc_freq above every term's df -> nothing survives
    assert s.select_mlt_terms(text, min_doc_freq=10**9) == []


def test_reader_rejects_unknown_format_version(spark, tiny_index, tmp_path):
    """Format-version discipline (compat_tests.rs analogue)."""
    import json
    import os
    import shutil

    import pytest as _pytest

    from tantivy_spark.index.reader import IndexReader

    src = tiny_index.index_dir
    dst = str(tmp_path / "vfuture")
    shutil.copytree(src, dst)
    with open(os.path.join(dst, "meta.json")) as f:
        m = json.load(f)
    m["version"] = 99
    with open(os.path.join(dst, "meta.json"), "w") as f:
        json.dump(m, f)
    with _pytest.raises(ValueError, match="format version"):
        IndexReader(spark, dst)


def test_fast_field_range_query(spark, tiny_index, tiny_golden):
    """FastFieldRangeQuery: columnar range -> DocAddresses through the
    docmap (range_query_fastfield.rs variant)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tantivy_spark.query.ast import FastFieldRangeQuery
    from tantivy_spark.query.exact import ExactSearcher

    s = ExactSearcher(tiny_index)
    with _pytest.raises(ValueError, match="set_fast_fields"):
        s.matching(FastFieldRangeQuery("n", 1, 2)).count()

    # fast fields: key -> a numeric column derived from the key digits
    ff = tiny_index.docmap.select(
        F.col("key").alias("k"),
        F.substring("key", -2, 2).cast("int").alias("kmod"))
    s.set_fast_fields(ff, "k")
    got = s.matching(FastFieldRangeQuery("kmod", 10, 19)).count()
    want = ff.filter((F.col("kmod") >= 10) & (F.col("kmod") <= 19)).count()
    assert got == want
    # exclusive bounds
    got_ex = s.matching(FastFieldRangeQuery("kmod", 10, 19, False, False)).count()
    want_ex = ff.filter((F.col("kmod") > 10) & (F.col("kmod") < 19)).count()
    assert got_ex == want_ex


def test_fuzzy_expansion_distributed_dl(spark, tmp_path):
    """The Damerau-Levenshtein check runs distributed BEFORE the cap, so a
    coarse superset larger than the cap cannot silently drop valid
    matches, and the loud-cap error measures the TRUE DL set."""
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader

    # dictionary: DL<=1 of 'ab' is exactly {ab, ba}; {awq, axy, axz} are
    # coarse-only (levenshtein 2 = 2*distance, DL 2) and sort BEFORE 'ba',
    # so a collect-then-filter under cap=2 would have dropped 'ba'
    docs = spark.createDataFrame(
        [("k1", "ab awq axy"), ("k2", "ba axz")], "url STRING, text STRING")
    out = str(tmp_path / "fuzzy_idx")
    build_index(spark, docs, out, IndexConfig(key_col="url", n_segments=1))
    s = ExactSearcher(IndexReader(spark, out))
    got = s._expand_fuzzy("ab", 1, prefix=False, cap=2,
                          transposition_cost_one=True)
    assert got == ["ab", "ba"]
    # and the cap fails loudly on the exact DL set, not the coarse one
    with pytest.raises(ValueError, match="exceeds"):
        s._expand_fuzzy("ab", 1, prefix=False, cap=1,
                        transposition_cost_one=True)


def test_custom_query_plugin(searcher, tiny_index):
    """CustomQuery: the user-defined Query/Scorer extension point
    (ARCHITECTURE.md:283-291) — composes with boolean clauses and
    deletes like any built-in node."""
    from pyspark.sql import functions as F

    from tantivy_spark.query.ast import CustomQuery

    def even_docs(s, boost):
        return s.reader.docmap.filter(F.col("doc_id") % 2 == 0).select(
            "segment_ord", "doc_id", F.lit(0.5 * boost).alias("score"))

    q = CustomQuery(even_docs, name="even_docs")
    got = searcher.matching(q).collect()
    assert got and all(r["doc_id"] % 2 == 0 for r in got)
    assert all(r["score"] == 0.5 for r in got)
    # composes under boolean MUST with a term clause
    combo = BooleanQuery([(Occur.MUST, TermQuery("data")), (Occur.MUST, q)])
    both = searcher.matching(combo).collect()
    data_docs = {(r["segment_ord"], r["doc_id"])
                 for r in searcher.matching(TermQuery("data")).collect()}
    assert both and all(
        r["doc_id"] % 2 == 0 and (r["segment_ord"], r["doc_id"]) in data_docs
        for r in both)


def test_explain_matches_search_scores(tiny_index):
    """Query::explain analogue (explanation.rs): the explanation's value
    is the SAME f64 score search produces, and the per-term BM25
    components recompose it."""
    import pytest as _pt

    from tantivy_spark.query import BooleanQuery, Occur, TermQuery
    from tantivy_spark.query.exact import ExactSearcher

    s = ExactSearcher(tiny_index)
    top = s.search(TermQuery("data"), k=3).collect()
    for r in top:
        ex = s.explain(TermQuery("data"), r["segment_ord"], r["doc_id"])
        assert ex["value"] == r["score"]            # bit-identical f64
        (d,) = ex["details"]
        assert d["term"] == "data" and d["tf"] >= 1
        assert d["value"] == _pt.approx(ex["value"], rel=1e-12)
        assert d["doc_freq"] > 0 and d["idf"] > 0

    q = BooleanQuery([(Occur.SHOULD, TermQuery("fast")),
                      (Occur.SHOULD, TermQuery("scan"))])
    r = s.search(q, k=1).collect()[0]
    ex = s.explain(q, r["segment_ord"], r["doc_id"])
    assert ex["value"] == r["score"]
    assert sum(d["value"] for d in ex["details"]) == \
        _pt.approx(ex["value"], rel=1e-12)

    with _pt.raises(ValueError, match="does not match"):
        s.explain(TermQuery("data"), 10_000, 10_000)


def test_space_usage(tiny_index):
    """SegmentReader::space_usage analogue: per-table on-disk bytes."""
    su = tiny_index.space_usage()
    assert {"postings", "docmap", "term_stats", "meta.json"} <= set(su["tables"])
    assert su["total_bytes"] == sum(
        t["bytes"] for t in su["tables"].values()) > 0
    assert su["tables"]["postings"]["bytes"] > 0
    assert su["n_files"] >= 4


def test_fuzzy_prefix_reference_vectors(spark, tmp_path):
    """Ported from the reference's own fuzzy tests (fuzzy_query.rs
    test_fuzzy_term): 'japon'~1 matches japan; 'jap'~1 does NOT
    (non-prefix distance 2); 'jap'~1 PREFIX does (prefix distance 0)."""
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query import ast
    from tantivy_spark.query.exact import ExactSearcher

    df = spark.createDataFrame([("0", 0, "japan"), ("1", 1, "korea")],
                               "key STRING, i LONG, text STRING")
    out = str(tmp_path / "fidx")
    build_index(spark, df, out, IndexConfig(
        key_col="key", text_col="text", n_segments=1,
        segment_expr="0"), resume=False)
    s = ExactSearcher(IndexReader(spark, out))

    hits = s.search(ast.FuzzyTermQuery(
        "japon", distance=1, transposition_cost_one=True), k=2).collect()
    assert [r["key"] for r in hits] == ["0"]

    assert s.search(ast.FuzzyTermQuery(
        "jap", distance=1, transposition_cost_one=True), k=2).count() == 0

    hits = s.search(ast.FuzzyTermQuery(
        "jap", distance=1, transposition_cost_one=True,
        prefix=True), k=2).collect()
    assert [r["key"] for r in hits] == ["0"]

    # prefix distance 1 reaches both stems sharing no prefix? no:
    # 'kore'~0 prefix matches korea only
    hits = s.search(ast.FuzzyTermQuery(
        "kore", distance=0, prefix=True), k=2).collect()
    assert [r["key"] for r in hits] == ["1"]


def test_prefix_edit_distance_unit():
    from tantivy_spark.query.exact import _edit_distance_row

    def ped(t, q, transpositions):      # prefix distance: the row minimum
        return min(_edit_distance_row(q, t, transpositions))

    assert ped("japan", "jap", False) == 0       # prefix hit
    assert ped("japan", "japon", False) == 1     # substitute within prefix
    assert ped("korea", "jap", False) == 3
    assert ped("abcd", "acb", True) == 1         # transposed prefix
    assert ped("abcd", "acb", False) == 1        # edit("acb","ab"): del c
    assert ped("abcd", "axcz", False) == 2
    assert ped("abcd", "axc", False) == 1        # edit("axc","abc")
    assert ped("x", "", False) == 0              # empty query matches all
    # the full distance is the row's last cell
    assert _edit_distance_row("ab", "ba", True)[-1] == 1    # one swap
    assert _edit_distance_row("ab", "ba", False)[-1] == 2
    assert _edit_distance_row("dtaa", "data", True)[-1] == 1
    assert _edit_distance_row("", "abc", True)[-1] == 3


@pytest.mark.parametrize("phrase_terms,boost", [
    (["the"], None), ([], None), (["the"], 2.5)],
    ids=["phrase_terms", "prefix_only", "boosted"])
def test_phrase_prefix_equals_dismax_of_phrases(searcher, phrase_terms,
                                                boost):
    """A phrase prefix scores each doc by its best expansion: the same
    top-k (rank, key, score) and matching set, bit for bit, as the
    explicit DisjunctionMax (tie_breaker 0) of one PhraseQuery per
    expansion, which lowers one scan per expansion."""
    from pyspark.sql import functions as F

    from tantivy_spark.query.ast import (BoostQuery, DisjunctionMaxQuery,
                                         PhrasePrefixQuery, PhraseQuery)

    q = PhrasePrefixQuery(phrase_terms, prefix="s")
    expansions = sorted({r["term"] for r in searcher.reader.term_stats
                         .filter(F.col("term").startswith("s"))
                         .select("term").collect()})[:q.max_expansions]
    assert len(expansions) >= 3
    ref = DisjunctionMaxQuery(
        [PhraseQuery(phrase_terms + [e]) for e in expansions], tie_breaker=0.0)
    if boost is not None:
        q, ref = BoostQuery(q, boost), BoostQuery(ref, boost)

    def top(x):
        return [(r["rank"], r["key"], r["score"])
                for r in searcher.search(x, k=10).collect()]

    def matching(x):
        return sorted((r["segment_ord"], r["doc_id"], r["score"])
                      for r in searcher.matching(x).collect())

    assert top(q) == top(ref)
    got = matching(q)
    assert len({(s, d) for s, d, _ in got}) == len(got) > 10
    assert got == matching(ref)


def test_tweak_score_by_fast_field(spark, tmp_path):
    """TopDocs::tweak_score analogue (top_score_collector.rs:332-420):
    the reference's doc example — boost relevance by a popularity fast
    field; ordering flips from pure BM25 to popularity-weighted."""
    from pyspark.sql import functions as F

    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query import TermQuery
    from tantivy_spark.query.searcher import Searcher

    docs = spark.createDataFrame(
        [("p1", "the diary of muadib", 1),
         ("p2", "a dairy cow", 10),
         ("p3", "the diary of a young girl", 15)],
        "key STRING, text STRING, popularity INT")
    out = str(tmp_path / "tweak_idx")
    build_index(spark, docs, out,
                IndexConfig(key_col="key", text_col="text", n_segments=1,
                            fast_field_cols=["popularity"]))
    s = Searcher(IndexReader(spark, out))

    plain = s.search(TermQuery("diary"), k=10).collect()
    assert {r["key"] for r in plain} == {"p1", "p3"}

    tweaked = s.search_tweaked(
        TermQuery("diary"),
        lambda score, d: score + F.col("popularity").cast("double"),
        k=10).collect()
    assert [r["key"] for r in tweaked] == ["p3", "p1"]   # popularity wins
    # tweaked score decomposes exactly
    by_key = {r["key"]: r for r in tweaked}
    assert by_key["p3"]["score"] == pytest.approx(
        by_key["p3"]["bm25_score"] + 15.0)
    # rank/tie-break contract holds under the tweak
    assert [r["rank"] for r in tweaked] == [1, 2]
