"""Deletes: tantivy-style delete-by-term with alive filtering.

Reference semantics (ARCHITECTURE.md:59-64; src/fastfield/alive_bitset.rs):
deletes are recorded per commit as a bitset of dead docs; queries filter
them out, but BM25 *statistics* (doc_freq, total tokens) still include
deleted docs until a merge physically drops them — we mirror exactly that:
the deletes table only filters match sets; term_stats / manifest totals
are untouched until compaction.

Spark shape: ``{index}/deletes/`` parquet of (segment_ord, doc_id); the
searcher anti-joins it.  Delete-by-term resolves the term's posting list
to DocAddresses; delete-by-key resolves through the docmap (the
primary-key case, tantivy's delete_term on the id field).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tantivy_spark.index.reader import IndexReader


def _append(spark: SparkSession, index_dir: str, addrs: DataFrame) -> None:
    addrs.select(F.col("segment_ord").cast("int"), F.col("doc_id").cast("int")) \
        .write.mode("append").parquet(os.path.join(index_dir, "deletes"))


def delete_by_keys(spark: SparkSession, reader: IndexReader, keys: list[str]) -> int:
    """Delete docs whose primary key is in ``keys``; returns count."""
    addrs = reader.docmap.filter(F.col("key").isin(keys)) \
        .select("segment_ord", "doc_id")
    n = addrs.count()
    if n:
        _append(spark, reader.index_dir, addrs)
    return n


def delete_by_term(spark: SparkSession, reader: IndexReader, term: str) -> int:
    """Delete every doc containing ``term`` (ref: delete_term semantics)."""
    from tantivy_spark.query.exact import ExactSearcher

    addrs = ExactSearcher(reader).flat_postings([term]) \
        .filter(F.col("term") == term).select("segment_ord", "doc_id").distinct()
    n = addrs.count()
    if n:
        _append(spark, reader.index_dir, addrs)
    return n


def delete_by_query(spark: SparkSession, reader: IndexReader, query) -> int:
    """Delete every doc MATCHING a query tree (ref: the reference's
    IndexWriter::delete_query) — resolves the query's alive match set to
    DocAddresses and appends them to the deletes table.  Already-deleted
    docs are excluded from the match set (the searcher anti-joins), so
    repeated calls are idempotent."""
    from tantivy_spark.query.exact import ExactSearcher

    addrs = ExactSearcher(reader).matching(query, scoring=False) \
        .select("segment_ord", "doc_id").distinct()
    n = addrs.count()
    if n:
        _append(spark, reader.index_dir, addrs)
    return n
