"""IndexWriter facade: buffered adds/deletes, visibility only at commit
(ref: src/indexer/index_writer.rs semantics)."""

import pytest
from pyspark.sql import functions as F

from tantivy_spark.corpus import synthetic_pages
from tantivy_spark.index.build import IndexConfig
from tantivy_spark.index.reader import IndexReader
from tantivy_spark.index.writer import IndexWriter
from tantivy_spark.query import AllQuery, TermQuery
from tantivy_spark.query.searcher import Searcher


@pytest.fixture()
def corpus(spark):
    return synthetic_pages(spark, 300, seed=17).select("url", "text")


def test_commit_gates_visibility(spark, corpus, tmp_path):
    out = str(tmp_path / "w1")
    w = IndexWriter(spark, out, IndexConfig(key_col="url", text_col="text"),
                    segments_per_batch=2)
    b0 = corpus.limit(100)
    w.add_documents(b0)
    # nothing visible before commit (no manifest batches yet)
    assert w.reader().num_docs == 0
    op0 = w.commit()
    assert w.reader().num_docs == 100

    # second transaction: adds + a delete buffered together
    b1 = corpus.subtract(b0)
    w.add_documents(b1)
    w.delete_term("the")
    assert w.reader().num_docs == 100   # still invisible
    op1 = w.commit()
    assert op1 == op0 + 1
    r = w.reader()
    assert r.num_docs == 300            # stats include deleted until merge
    s = Searcher(r)
    assert s.count(TermQuery("the")) == 0          # delete applied...
    assert s.count(AllQuery()) < 300               # ...to BOTH batches
    assert s.count(AllQuery()) > 0


def test_rollback_discards_buffered(spark, corpus, tmp_path):
    out = str(tmp_path / "w2")
    w = IndexWriter(spark, out, IndexConfig(key_col="url", text_col="text"),
                    segments_per_batch=2)
    w.add_documents(corpus.limit(50)).commit()
    n = Searcher(w.reader()).count(AllQuery())
    w.add_documents(corpus.limit(80)).delete_term("the").rollback()
    w.commit()
    assert Searcher(w.reader()).count(AllQuery()) == n


def test_delete_only_commit_and_delete_query(spark, corpus, tmp_path):
    from tantivy_spark.query import BooleanQuery, Occur

    out = str(tmp_path / "w3")
    w = IndexWriter(spark, out, IndexConfig(key_col="url", text_col="text"),
                    segments_per_batch=2)
    w.add_documents(corpus).commit()
    s = Searcher(w.reader())
    q = BooleanQuery([(Occur.MUST, TermQuery("the")),
                      (Occur.MUST, TermQuery("of"))])
    n_match = s.count(q)
    assert n_match > 0
    w.delete_query(q)
    assert Searcher(w.reader()).count(q) == n_match   # not yet
    w.commit()                                        # delete-only commit
    assert Searcher(w.reader()).count(q) == 0


def test_reloading_reader_sees_new_commits(spark, corpus, tmp_path):
    """ReloadPolicy analogue: the handle refreshes its snapshot after a
    commit changes the manifest; Manual mode only refreshes on reload()."""
    from tantivy_spark.index.reader import ReloadingReader

    out = str(tmp_path / "w4")
    w = IndexWriter(spark, out, IndexConfig(key_col="url", text_col="text"),
                    segments_per_batch=2)
    w.add_documents(corpus.limit(50)).commit()

    handle = ReloadingReader(spark, out, delay_s=0.0)
    assert handle.reader().num_docs == 50
    snap = handle.reader()
    w.add_documents(corpus.limit(120).subtract(corpus.limit(50))).commit()
    assert handle.reader().num_docs == 120       # auto-refresh
    assert snap.num_docs == 50                   # old snapshot immutable

    manual = ReloadingReader(spark, out, delay_s=None)
    before = manual.reader()
    w.add_documents(corpus.subtract(corpus.limit(120))).commit()
    assert manual.reader() is before             # Manual: no auto refresh
    assert manual.reload().num_docs == 300


def test_opstamps_unique_and_monotonic(spark, corpus, tmp_path):
    """A deletes-only commit advances the opstamp too — stamps are
    unique/monotonic across commits of every kind, like the reference
    IndexWriter's commit stamps (index_writer.rs)."""
    out = str(tmp_path / "w_ops")
    w = IndexWriter(spark, out, IndexConfig(key_col="url", text_col="text"),
                    segments_per_batch=2)
    s1 = w.add_documents(corpus).commit()
    s2 = w.delete_term("the").commit()          # deletes-only
    s3 = w.add_documents(corpus.limit(5)).commit()
    assert s1 < s2 < s3
    # a fresh writer over the same index resumes past the highest stamp
    w2 = IndexWriter(spark, out,
                     IndexConfig(key_col="url", text_col="text"),
                     segments_per_batch=2)
    s4 = w2.delete_term("of").commit()
    assert s4 > s3


def test_update_document_flow(spark, tmp_path):
    """The reference's update recipe (examples/deleting_updating_
    documents.rs): delete the old version by key and add the new one in
    the SAME commit — the replacement is atomic at commit time."""
    out = str(tmp_path / "wupd")
    docs = spark.createDataFrame(
        [("k1", "alpha common"), ("k2", "oldword common"),
         ("k3", "gamma common")],
        "url STRING, text STRING")
    w = IndexWriter(spark, out, IndexConfig(key_col="url", text_col="text"),
                    segments_per_batch=1)
    w.add_documents(docs).commit()
    s = Searcher(w.reader())
    assert s.count(TermQuery("oldword")) == 1

    new_k2 = spark.createDataFrame([("k2", "newword common")],
                                   "url STRING, text STRING")
    w.delete_by_keys(["k2"]).add_documents(new_k2).commit()
    r = w.reader()
    s = Searcher(r)
    assert s.count(TermQuery("oldword")) == 0      # old version gone
    assert s.count(TermQuery("newword")) == 1      # replacement visible
    # 'common' still matches exactly one alive k2 (plus k1, k3)
    hits = s.search(TermQuery("common"), k=10).collect()
    assert sorted(h["key"] for h in hits) == ["k1", "k2", "k3"]


def test_dictionary_expansion_counts_each_term_once(spark, tmp_path):
    """A two-commit index keeps one term_stats row per (commit, term):
    fuzzy, regex and phrase-prefix expansion still list each dictionary
    term once, so caps and max_expansions count distinct terms."""
    from tantivy_spark.query.ast import PhrasePrefixQuery, PhraseQuery
    from tantivy_spark.query.exact import ExactSearcher

    out = str(tmp_path / "wexp")
    w = IndexWriter(spark, out, IndexConfig(key_col="url", text_col="text"),
                    segments_per_batch=1)
    w.add_documents(spark.createDataFrame(
        [("k1", "merge sort"), ("k2", "sort order")],
        "url STRING, text STRING")).commit()
    w.add_documents(spark.createDataFrame(
        [("k3", "merge sort fast"), ("k4", "merge sorted")],
        "url STRING, text STRING")).commit()
    s = ExactSearcher(w.reader())
    assert s._expand_fuzzy("sort", 1, False, cap=2) == ["sort"]
    assert s._expand_fuzzy("sort", 1, False, cap=1) == ["sort"]
    assert s._expand_regex("sort.*", cap=2) == ["sort", "sorted"]
    assert s._expand_regex("so.*", cap=1) == ["sort"]
    # the first two distinct "so" terms, sort and sorted, both expand
    prefix = PhrasePrefixQuery(["merge"], prefix="so", max_expansions=2)
    both = PhraseQuery(["merge", "sort"])
    keys = {r["key"] for r in s.search(prefix, k=10).collect()}
    assert keys == {"k1", "k3", "k4"}
    assert {r["key"] for r in s.search(both, k=10).collect()} == {"k1", "k3"}
