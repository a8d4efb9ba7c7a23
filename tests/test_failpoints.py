"""Failure-injection tests for ingest atomicity (the analogue of the
reference's failpoint suite, tests/failpoints/mod.rs + fail_point hooks in
src/postings/serializer.rs:224-226): kill the ingest at every window
between a parquet write and the manifest publish, retry, and assert the
index converges to the clean-run result with no duplicated or lost rows."""

import pytest
from pyspark.sql import functions as F

from tantivy_spark.corpus import synthetic_pages
from tantivy_spark.index.build import IndexConfig
from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query import BooleanQuery, Occur, TermQuery
from tantivy_spark.query.exact import ExactSearcher
from tantivy_spark.streaming import IncrementalIndexer
from tantivy_spark.streaming.ingest import FAILPOINTS, InjectedFailure

QUERY = BooleanQuery([(Occur.SHOULD, TermQuery("the")),
                      (Occur.SHOULD, TermQuery("of"))])


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_pages(spark, 200, seed=31).select("url", "text")


@pytest.fixture(scope="module")
def clean_result(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fp_clean") / "inc")
    ix = IncrementalIndexer(spark, out, IndexConfig(key_col="url", text_col="text"),
                            segments_per_batch=2)
    b0 = corpus.filter(F.substring("url", -1, 1).isin(*"01234"))
    b1 = corpus.filter(~F.substring("url", -1, 1).isin(*"01234"))
    ix.process_batch(b0, 0)
    ix.process_batch(b1, 1)
    reader = IndexReader(spark, out)
    hits = ExactSearcher(reader).search(QUERY, k=10).collect()
    return {
        "num_docs": reader.num_docs,
        "total_tokens": reader.total_num_tokens,
        "keys": [r["key"] for r in hits],
        "scores": [r["score"] for r in hits],
    }


@pytest.mark.parametrize("point", FAILPOINTS)
def test_crash_and_retry_is_idempotent(spark, corpus, tmp_path_factory,
                                       clean_result, point):
    out = str(tmp_path_factory.mktemp(f"fp_{point}") / "inc")
    ix = IncrementalIndexer(spark, out, IndexConfig(key_col="url", text_col="text"),
                            segments_per_batch=2)
    b0 = corpus.filter(F.substring("url", -1, 1).isin(*"01234"))
    b1 = corpus.filter(~F.substring("url", -1, 1).isin(*"01234"))

    ix.failpoints.add(point)
    with pytest.raises(InjectedFailure):
        ix.process_batch(b0, 0)
    # crash landed AFTER some writes but BEFORE the manifest publish:
    # the manifest must not know the batch
    assert "0" not in ix.manifest["batches"]

    ix.failpoints.clear()
    ix.process_batch(b0, 0)   # retry overwrites the orphan files exactly
    ix.process_batch(b1, 1)

    reader = IndexReader(spark, out)
    assert reader.num_docs == clean_result["num_docs"]
    assert reader.total_num_tokens == clean_result["total_tokens"]
    hits = ExactSearcher(reader).search(QUERY, k=10).collect()
    assert [r["key"] for r in hits] == clean_result["keys"]
    for got, want in zip((r["score"] for r in hits), clean_result["scores"]):
        assert got == pytest.approx(want, rel=1e-12)


def test_crash_midway_through_second_batch(spark, corpus, tmp_path_factory,
                                           clean_result):
    """First batch committed, second crashes and retries — totals and
    results still converge (no double-count of batch 0)."""
    out = str(tmp_path_factory.mktemp("fp_midway") / "inc")
    ix = IncrementalIndexer(spark, out, IndexConfig(key_col="url", text_col="text"),
                            segments_per_batch=2)
    b0 = corpus.filter(F.substring("url", -1, 1).isin(*"01234"))
    b1 = corpus.filter(~F.substring("url", -1, 1).isin(*"01234"))
    ix.process_batch(b0, 0)
    ix.failpoints.add("after_docmap")
    with pytest.raises(InjectedFailure):
        ix.process_batch(b1, 1)
    ix.failpoints.clear()
    ix.process_batch(b1, 1)
    reader = IndexReader(spark, out)
    assert reader.num_docs == clean_result["num_docs"]
    assert reader.total_num_tokens == clean_result["total_tokens"]


def test_orphan_batch_invisible_to_readers(spark, corpus, tmp_path_factory):
    """A crash AFTER all of a batch's parquet writes but BEFORE its
    manifest publish must leave the batch invisible: readers count only
    published docs (no phantom matches with excluded statistics), a merge
    merges only published docs, and a restarted indexer reclaims the
    orphan directories."""
    import os

    out = str(tmp_path_factory.mktemp("fp_orphan") / "inc")
    cfg = IndexConfig(key_col="url", text_col="text")
    ix = IncrementalIndexer(spark, out, cfg, segments_per_batch=2)
    b0 = corpus.filter(F.substring("url", -1, 1).isin(*"01234"))
    b1 = corpus.filter(~F.substring("url", -1, 1).isin(*"01234"))
    ix.process_batch(b0, 0)
    n0 = b0.count()
    # the LAST failpoint: every table of batch 1 is on disk, unpublished
    ix.failpoints.add("after_term_stats")
    with pytest.raises(InjectedFailure):
        ix.process_batch(b1, 1)
    assert os.path.isdir(os.path.join(out, "postings", "batch=1"))

    reader = IndexReader(spark, out)
    from tantivy_spark.query import AllQuery
    s = ExactSearcher(reader)
    assert reader.num_docs == n0
    assert s.matching(AllQuery()).count() == n0          # docmap gated
    assert reader.postings.filter("batch = 1").count() == 0  # postings gated
    # the driver-side doc_freq lookup applies the same gate: it sums
    # batch 0's term_stats only, never the orphan batch=1 delta
    terms = ["the", "data", "fast", "absent"]

    def sums(df):
        rows = df.filter(F.col("term").isin(terms)).groupBy("term") \
            .agg(F.sum("doc_freq").alias("df")).collect()
        return {t: 0 for t in terms} | {r["term"]: r["df"] for r in rows}

    gated = sums(reader.term_stats)
    assert reader.doc_freqs(terms) == gated
    assert sums(spark.read.parquet(os.path.join(out, "term_stats"))) != gated

    # merge reads through the same gate: the orphan batch is not merged
    from tantivy_spark.index.merge import merge_segments

    merged = str(tmp_path_factory.mktemp("fp_orphan_merged") / "m")
    m = merge_segments(spark, out, merged, n_target_segments=2)
    assert m["totals"]["num_docs"] == n0
    docmap = spark.read.parquet(os.path.join(merged, "docmap"))
    assert docmap.count() == n0
    assert "batch" not in docmap.columns
    assert not {"batches", "next_segment_ord"} & set(m)
    assert IndexReader(spark, merged).num_docs == n0

    # restart: orphan dirs are reclaimed, then redelivery completes
    ix2 = IncrementalIndexer(spark, out, cfg, segments_per_batch=2)
    assert not os.path.isdir(os.path.join(out, "postings", "batch=1"))
    ix2.process_batch(b1, 1)
    assert IndexReader(spark, out).num_docs == corpus.count()


def test_fresh_indexer_resumes_from_manifest(spark, corpus, tmp_path_factory):
    """A NEW IncrementalIndexer over the same dir (process restart) skips
    committed batches and continues from the recorded segment ordinal."""
    out = str(tmp_path_factory.mktemp("fp_restart") / "inc")
    cfg = IndexConfig(key_col="url", text_col="text")
    b0 = corpus.limit(100)
    ix1 = IncrementalIndexer(spark, out, cfg, segments_per_batch=2)
    ix1.process_batch(b0, 0)
    n1 = IndexReader(spark, out).num_docs

    ix2 = IncrementalIndexer(spark, out, cfg, segments_per_batch=2)
    ix2.process_batch(b0, 0)  # redelivery across restart: skipped
    assert IndexReader(spark, out).num_docs == n1
    assert ix2.manifest["next_segment_ord"] == ix1.manifest["next_segment_ord"]
