"""Incremental (streaming) index ingestion tests: micro-batches append
segments; results equal a batch build over the same docs; batch
re-delivery is idempotent; merge compacts the incremental index."""

import os

import pytest
from pyspark.sql import functions as F

from tantivy_spark.corpus import synthetic_pages
from tantivy_spark.index.build import IndexConfig, build_index
from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query import BooleanQuery, Occur, TermQuery
from tantivy_spark.query.exact import ExactSearcher
from tantivy_spark.streaming import IncrementalIndexer

QUERY = BooleanQuery([(Occur.SHOULD, TermQuery("the")),
                      (Occur.SHOULD, TermQuery("of"))])


@pytest.fixture(scope="module")
def corpus(spark):
    return synthetic_pages(spark, 240, seed=11).select("url", "text")


def test_incremental_equals_batch(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sidx") / "inc")
    cfg = IndexConfig(key_col="url", text_col="text")
    ix = IncrementalIndexer(spark, out, cfg, segments_per_batch=3)
    b0 = corpus.filter(F.substring("url", -1, 1).isin(*"01234"))
    b1 = corpus.filter(~F.substring("url", -1, 1).isin(*"01234"))
    ix.process_batch(b0, 0)
    ix.process_batch(b1, 1)

    reader = IndexReader(spark, out)
    assert reader.num_docs == corpus.count()

    batch_out = str(tmp_path_factory.mktemp("bidx") / "batch")
    build_index(spark, corpus, batch_out,
                IndexConfig(key_col="url", text_col="text", n_segments=4))
    batch_reader = IndexReader(spark, batch_out)

    # same global stats and same ranked keys (addresses differ by design)
    assert reader.total_num_tokens == batch_reader.total_num_tokens
    got = ExactSearcher(reader).search(QUERY, k=10).collect()
    want = ExactSearcher(batch_reader).search(QUERY, k=10).collect()
    assert [r["key"] for r in got] == [r["key"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], rel=1e-12)


def _content_hash(df, order_cols):
    """md5 of a table's rows in a fixed order (binary cells by their md5),
    ignoring the streaming ``batch`` partition column."""
    import hashlib

    df = df.drop("batch").orderBy(*order_cols)
    binish = {f.name for f in df.schema.fields
              if f.dataType.simpleString() == "binary"}
    pdf = df.select([F.md5(F.col(c)).alias(c) if c in binish else F.col(c)
                     for c in df.columns]).toPandas()
    return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()


@pytest.mark.parametrize("extra", [
    {},
    {"fast_field_cols": ["lang"], "record_option": "basic", "sort_col": "lang"},
], ids=["default", "fast_basic_sorted"])
def test_single_batch_equals_build(spark, tmp_path_factory, extra):
    """Ingest and build share one write path: one batch through the
    indexer writes the same postings, docmap, term_stats and lineage, and
    the same manifest totals, as build_index over the same docs with the
    same segment expression — under the full IndexConfig (fast fields,
    record option, index sorting)."""
    import json

    docs = synthetic_pages(spark, 200, seed=3)
    base = tmp_path_factory.mktemp("inc_vs_build")
    inc, built = str(base / "inc"), str(base / "built")
    ix = IncrementalIndexer(spark, inc, IndexConfig(**extra),
                            segments_per_batch=3)
    ix.process_batch(docs, 0)
    build_index(spark, docs, built, IndexConfig(
        n_segments=3, segment_expr="pmod(xxhash64(url), 3)", **extra))

    for table, order in [("postings", ["segment_ord", "term", "chunk_id"]),
                         ("docmap", ["segment_ord", "doc_id"]),
                         ("term_stats", ["term"]),
                         ("lineage", ["segment_ord"])]:
        got, want = (spark.read.parquet(os.path.join(d, table))
                     for d in (inc, built))
        assert sorted(got.drop("batch").columns) == sorted(want.columns), table
        assert _content_hash(got, order) == _content_hash(want, order), table

    def totals(d):
        with open(os.path.join(d, "meta.json")) as f:
            return json.load(f)["totals"]

    assert totals(inc) == totals(built)


def test_batch_redelivery_is_idempotent(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sidx2") / "inc")
    ix = IncrementalIndexer(spark, out, IndexConfig(key_col="url", text_col="text"),
                            segments_per_batch=2)
    ix.process_batch(corpus, 0)
    n1 = IndexReader(spark, out).num_docs
    ix.process_batch(corpus, 0)  # redelivery
    assert IndexReader(spark, out).num_docs == n1


def test_streaming_source_end_to_end(spark, corpus, tmp_path_factory):
    """Real Structured Streaming flow: file source -> foreachBatch sink."""
    src = str(tmp_path_factory.mktemp("src"))
    out = str(tmp_path_factory.mktemp("sidx3") / "inc")
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    corpus.write.mode("overwrite").parquet(src)

    ix = IncrementalIndexer(spark, out, IndexConfig(key_col="url", text_col="text"),
                            segments_per_batch=2)
    stream = (spark.readStream.schema("url string, text string").parquet(src)
              .writeStream.foreachBatch(ix.process_batch)
              .option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
    stream.awaitTermination(120)
    reader = IndexReader(spark, out)
    assert reader.num_docs == corpus.count()
    hits = ExactSearcher(reader).search(TermQuery("the"), k=5).collect()
    assert len(hits) == 5


def test_merge_compacts_incremental(spark, corpus, tmp_path_factory):
    from tantivy_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("sidx4") / "inc")
    ix = IncrementalIndexer(spark, out, IndexConfig(key_col="url", text_col="text"),
                            segments_per_batch=2)
    half = corpus.limit(120)
    rest = corpus.subtract(half)
    ix.process_batch(half, 0)
    ix.process_batch(rest, 1)
    merged = str(tmp_path_factory.mktemp("sidx4m") / "merged")
    merge_segments(spark, out, merged)
    r = IndexReader(spark, merged)
    assert r.num_docs == corpus.count()
    assert ExactSearcher(r).count(TermQuery("the")) == \
        ExactSearcher(IndexReader(spark, out)).count(TermQuery("the"))


def test_windowed_term_counts_with_watermark(spark, tmp_path_factory):
    """Event-time windowed term frequencies with a watermark: append
    mode emits a window only after the watermark passes its end, so a
    two-micro-batch drive (maxFilesPerTrigger=1) finalizes the FIRST
    minute exactly while the trailing window stays open — the
    late-data gate observable end to end."""
    import datetime as dt

    from tantivy_spark.streaming.windows import windowed_term_counts

    src = str(tmp_path_factory.mktemp("win_src"))
    out = str(tmp_path_factory.mktemp("win_out"))
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    # file 1: minute-0 events.  file 2: minute-5 events — their batch
    # advances the watermark (2 min lag) past minute-0's window end.
    win0 = [(base + dt.timedelta(seconds=10 * i),
             "spark streams data" if i % 2 else "data sketch")
            for i in range(6)]
    late = [(base + dt.timedelta(minutes=5, seconds=i), "tail text")
            for i in range(3)]
    df0 = spark.createDataFrame(win0, "ts TIMESTAMP, text STRING")
    df0.coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(late, "ts TIMESTAMP, text STRING") \
        .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("ts TIMESTAMP, text STRING")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (windowed_term_counts(stream, window="1 minute")
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", out + "_ckpt")
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = {(r["window"]["start"], r["term"]): r["tf"]
           for r in spark.read.parquet(out).collect()}
    # batch truth for minute 0
    from tantivy_spark.analyzer import tokens_col
    truth = (df0.select(F.window("ts", "1 minute").alias("w"),
                        F.explode(tokens_col(F.col("text"))).alias("term"))
             .groupBy("w", "term").count().collect())
    want = {(r["w"]["start"], r["term"]): r["count"] for r in truth}
    finalized0 = {k: v for k, v in got.items() if k[0] == base}
    assert finalized0 == want and finalized0
    # the trailing minute-5 window is still open: not emitted
    assert not any(k[0] > base for k in got)


def test_sessionize_stateful(spark, tmp_path_factory):
    """applyInPandasWithState sessionizer: gap-split sessions per key,
    closed sessions emitted with exact bounds and counts."""
    import datetime as dt

    from tantivy_spark.streaming.windows import sessionize

    src = str(tmp_path_factory.mktemp("sess_src"))
    out = str(tmp_path_factory.mktemp("sess_out"))
    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = []
    # user a: two sessions (3 events, gap 120s, 2 events)
    for off in (0, 10, 20, 140, 150):
        rows.append(("a", base + dt.timedelta(seconds=off)))
    # user b: one session of 2 events
    for off in (5, 15):
        rows.append(("b", base + dt.timedelta(seconds=off)))
    spark.createDataFrame(rows, "user_id STRING, ts TIMESTAMP") \
        .coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("user_id STRING, ts TIMESTAMP") \
        .parquet(src)
    q = (sessionize(stream, gap="30 seconds")
         .writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", out + "_ckpt")
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["key"], r["n_events"]) for r in
           spark.read.parquet(out).collect()}
    # availableNow closes the stream after draining: the final open
    # sessions ('a' second session, 'b' single session) flush only on
    # the timeout, which a drained availableNow run may not reach —
    # the CLOSED-by-gap session must be present with exact bounds
    assert ("a", 3) in got
    sess = [r for r in spark.read.parquet(out).collect()
            if r["key"] == "a" and r["n_events"] == 3][0]
    assert sess["session_start"] == base
    assert sess["session_end"] == base + dt.timedelta(seconds=20)


def test_windowed_doc_stats_batch_parity(spark):
    """windowed_doc_stats is plan-compatible with batch frames
    (withWatermark no-ops outside streaming): per-window doc counts and
    token sums match the direct groupBy."""
    import datetime as dt

    from tantivy_spark.streaming.windows import windowed_doc_stats

    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows = [(base + dt.timedelta(seconds=40 * i), "a b c" if i % 2 else "x y")
            for i in range(6)]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, text STRING")
    got = {r["window"]["start"]: (r["docs"], r["total_tokens"])
           for r in windowed_doc_stats(df).collect()}
    assert got[base] == (2, 5)                     # 0s, 40s
    assert got[base + dt.timedelta(minutes=1)] == (1, 2)  # 80s, "x y"
    assert sum(d for d, _ in got.values()) == 6
