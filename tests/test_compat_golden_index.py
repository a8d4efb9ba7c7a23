"""Cross-version golden-index compat (ref: src/compat_tests.rs:1-40 +
tests/compat_tests_data/index_v6,v7): a tiny index SERIALIZED at the
current format version is committed under tests/goldens/index_v1/ and
OPENED here — never rebuilt — so accidental format drift (codec bytes,
manifest keys, table layout, scoring) breaks a test instead of a user's
existing index.

Regenerate ONLY on a deliberate format bump: scripts/make_golden_index.py
(keep the old version directory and add a new one, like the reference).
The one rebuild here, into tmp_path, checks the other direction: the
current writer still produces the committed rows."""

import json
import os

import pytest

from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query import PhraseQuery, TermQuery
from tantivy_spark.query.ast import FastFieldRangeQuery
from tantivy_spark.query.exact import ExactSearcher

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "index_v1")
EXPECTED = GOLDEN + "_expected.json"


@pytest.fixture(scope="module")
def searcher(spark):
    return ExactSearcher(IndexReader(spark, GOLDEN))


@pytest.fixture(scope="module")
def expected():
    with open(EXPECTED) as f:
        return json.load(f)


def test_open_does_not_rebuild(spark):
    """Opening must consume the committed bytes as-is — the manifest is
    the committed one (no stage re-runs, version gate passes)."""
    r = IndexReader(spark, GOLDEN)
    assert int(r.manifest["version"]) == 1
    assert r.manifest["totals"]["num_docs"] == 10
    assert r.manifest["totals"]["num_segments"] == 2


def test_term_topk_matches_pinned(searcher, expected):
    got = [[r["rank"], r["key"], float(r["score"])]
           for r in searcher.search(TermQuery("quick"), k=5).collect()]
    want = expected["term_quick_topk"]
    assert [g[:2] for g in got] == [w[:2] for w in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=1e-9)


def test_count_matches_pinned(searcher, expected):
    assert searcher.count(TermQuery("the")) == expected["count_the"]


def test_phrase_matches_pinned(searcher, expected):
    got = [[r["rank"], r["key"], float(r["score"])]
           for r in searcher.search(PhraseQuery(["merge", "sort"]),
                                    k=5).collect()]
    want = expected["phrase_merge_sort"]
    assert [g[:2] for g in got] == [w[:2] for w in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=1e-9)


def test_fast_field_survives_format(searcher):
    """The committed docmap carries the 'num' fast field; range queries
    must resolve on it without the source table."""
    assert searcher.count(FastFieldRangeQuery("num", 3, 7)) == 5


def _golden_script():
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "scripts", "make_golden_index.py")
    spec = importlib.util.spec_from_file_location("make_golden_index", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: table -> sort key of its rows (every key is unique within its table)
TABLE_ORDER = {
    "postings": ("segment_ord", "term", "chunk_id"),
    "docmap": ("segment_ord", "doc_id"),
    "term_stats": ("term",),
    "lineage": ("segment_ord",),
}


def test_fresh_build_writes_the_committed_rows(spark, tmp_path):
    """A fresh build of the generator's corpus and config writes exactly
    the committed rows of every table: the writer, the codec and the
    chunk-row layout cannot drift without a format bump."""
    from tantivy_spark.index.build import build_index

    gen = _golden_script()
    out = str(tmp_path / "rebuilt")
    build_index(spark, spark.createDataFrame(gen.ROWS, gen.DF_SCHEMA), out,
                gen.CONFIG, resume=False)
    for table, order in TABLE_ORDER.items():
        got = [r.asDict() for r in
               spark.read.parquet(os.path.join(out, table))
               .orderBy(*order).collect()]
        want = [r.asDict() for r in
                spark.read.parquet(os.path.join(GOLDEN, table))
                .orderBy(*order).collect()]
        assert got and got == want, table
