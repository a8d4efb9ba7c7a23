"""tantivy_spark — a PySpark-native full-text index + BM25 search engine.

A from-scratch rebuild of the capabilities of quickwit-oss/tantivy
(reference at /root/reference, studied for semantics only) on top of the
Spark DataFrame API:

- inverted-index construction as a partition-parallel DataFrame program
  (`tantivy_spark.index.build`)
- posting lists with block-wise delta+bitpack / VInt compression
  (`tantivy_spark.index.codec`)
- segment merge as a term-range-partitioned rebase shuffle (hot-term
  chunks spread across contiguous partitions) (`tantivy_spark.index.merge`)
- BM25 (k1=1.2, b=0.75, quantized fieldnorms) top-k retrieval, both as an
  exact declarative DataFrame plan (`tantivy_spark.query.exact`) and as a
  block-max-WAND pruned kernel (`tantivy_spark.query.wand`)
- a tantivy-syntax query parser (`tantivy_spark.query.parser`)
- collectors / ES-style aggregations (`tantivy_spark.aggs`)
- large-scale training-data pipeline operators: dedup, similarity search,
  text stats, multimodal plumbing (`tantivy_spark.pipeline`)

Everything is expressed Spark-first: declarative DataFrame plans that
Catalyst can optimize, with Arrow-vectorized pandas UDFs only where the
semantics genuinely require imperative per-partition work (block codecs,
the WAND loop). No per-row Python UDFs anywhere.
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
BLOCK_LEN = 128  # docs per compressed posting block (ref: src/postings/compression/mod.rs:3)
MAX_TOKEN_BYTES = 40  # RemoveLongFilter::limit(40) (ref: src/tokenizer/tokenizer_manager.rs:59-65)
