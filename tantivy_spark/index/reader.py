"""Index reader: pins an index directory as a set of DataFrames.

The analogue of the reference `Searcher` (src/core/searcher.rs:180-237):
an immutable snapshot of segment data + global statistics.  Global BM25
statistics (total docs, total tokens -> avg fieldnorm) come from the
manifest; per-term doc_freq comes from the ``term_stats`` table
(ref: Bm25StatisticsProvider, src/query/bm25.rs:27-50).
"""

from __future__ import annotations

import json
import os
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: the deletes table's fixed schema (``deletes._append`` writes exactly
#: these columns): reading with it skips Spark's schema-inference job
DELETES_SCHEMA = "segment_ord INT, doc_id INT"


class ReloadingReader:
    """The reference's ReloadPolicy analogue (src/reader/mod.rs:7-44):
    hands out an immutable IndexReader SNAPSHOT, refreshing it when the
    manifest changed — ``delay_s`` rate-limits the mtime check like
    OnCommitWithDelay; ``delay_s=None`` is Manual (only ``reload()``
    refreshes).

    ``warmers``: callables invoked with each NEW reader generation
    BEFORE it is published (the reference's Warmer::warm contract,
    src/reader/warming.rs — a searcher generation is warmed, then
    served).  When a reload retires the previous generation, its pinned
    tables are unpersisted — the analogue of WarmingState garbage
    collection; unlike the reference's Weak-ref bookkeeping, a caller
    still holding the OLD reader keeps a USABLE object whose caches
    have merely been released (Spark recomputes from parquet)."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 delay_s: float | None = 1.0,
                 warmers: list | None = None):
        import time

        self.spark = spark
        self.index_dir = index_dir
        self.delay_s = delay_s
        self.warmers = list(warmers or ())
        self._meta_path = os.path.join(index_dir, "meta.json")
        self._snapshot: IndexReader | None = None
        self._mtime = -1.0
        self._checked = -float("inf")
        self._time = time.monotonic

    def reload(self) -> "IndexReader":
        self._mtime = os.path.getmtime(self._meta_path)
        new = IndexReader(self.spark, self.index_dir)
        if self._snapshot is not None:
            # GC the retiring generation FIRST: Spark keys its cache by
            # analyzed plan, and the old generation's tables read the
            # same paths — unpersisting after warming would evict the
            # fresh generation's pins too
            self._snapshot.unpersist()
        for w in self.warmers:          # warm BEFORE publishing
            w(new)
        self._snapshot = new
        self._checked = self._time()
        return new

    def reader(self) -> "IndexReader":
        if self._snapshot is None:
            return self.reload()
        if self.delay_s is not None and \
                self._time() - self._checked >= self.delay_s:
            self._checked = self._time()
            if os.path.getmtime(self._meta_path) != self._mtime:
                return self.reload()
        return self._snapshot


class IndexReader:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "meta.json")) as f:
            self.manifest = json.load(f)
        # format-version discipline (the reference's INDEX_FORMAT_VERSION
        # check, src/core/index_meta.rs / compat_tests.rs): refuse to read
        # a layout this build does not understand
        version = int(self.manifest.get("version", 0))
        if version != 1:
            raise ValueError(
                f"unsupported index format version {version} at {index_dir}; "
                f"this build reads version 1")
        t = self.manifest["totals"]
        self.num_docs: int = int(t["num_docs"])
        self.total_num_tokens: int = int(t["total_num_tokens"])
        self.avg_fieldnorm: float = float(t["avg_fieldnorm"]) or 1.0
        self.with_positions: bool = bool(self.manifest["config"].get("with_positions", True))
        from tantivy_spark.index.build import CHUNK_DOCS
        self.chunk_docs: int = int(self.manifest["config"].get("chunk_docs", CHUNK_DOCS))
        #: multi-field schema (field-qualified terms): ordered field ->
        #: source column, per-field BM25 statistics, and the default field
        #: for unqualified query terms (the first declared field)
        self.field_cols: dict | None = \
            self.manifest["config"].get("field_cols") or None
        self.field_totals: dict | None = t.get("fields") \
            if self.field_cols else None
        self.default_field: str | None = \
            next(iter(self.field_cols)) if self.field_cols else None
        #: fast-field columns stored ON the docmap (the per-segment
        #: columnar store) — range queries/aggs over them never join back
        #: to the source table
        self.fast_field_cols: list[str] = list(
            self.manifest["config"].get("fast_field_cols") or ())

    def avg_fieldnorm_for_term(self, term: str) -> float:
        """BM25 average fieldnorm for a (possibly field-qualified) term —
        the searched FIELD's average on multi-field indexes (bm25.rs
        semantics), the global average otherwise."""
        from tantivy_spark.index.build import FIELD_SEP
        if self.field_totals and FIELD_SEP in term:
            ft = self.field_totals.get(term.split(FIELD_SEP, 1)[0])
            if ft:
                return float(ft["avg_fieldnorm"]) or 1.0
        return self.avg_fieldnorm

    def _table(self, name: str) -> DataFrame:
        """Read an index table, restricted — for streaming-built indexes —
        to the batches the manifest has PUBLISHED.  A crash between a
        batch's parquet writes and its manifest commit leaves orphan
        ``batch=N`` subdirectories; plain partition discovery would show
        those phantom docs to readers while the manifest totals (num_docs,
        avg_fieldnorm) exclude them, skewing scores.  The manifest is the
        atomic visibility gate (the reference's meta.json semantics), so
        the reader only trusts partitions it records.  The filter is a
        partition-column predicate: unpublished directories are pruned at
        planning time, never scanned."""
        df = self.spark.read.parquet(os.path.join(self.index_dir, name))
        batches = self.manifest.get("batches")
        if batches and "batch" in df.columns:
            df = df.filter(
                F.col("batch").cast("string").isin(list(batches.keys())))
        return df

    @cached_property
    def postings(self) -> DataFrame:
        return self._table("postings")

    @cached_property
    def docmap(self) -> DataFrame:
        return self._table("docmap")

    @cached_property
    def term_stats(self) -> DataFrame:
        return self._table("term_stats")

    def doc_freqs(self, terms: list[str]) -> dict[str, int]:
        """Global doc_freq for a small set of query terms, read on the
        driver with pyarrow — no Spark job.

        The same statistics lookup the reference does when building a
        Weight (bm25.rs:95-129).  Only the ``term`` and ``doc_freq``
        columns are read, ``term IN (...)`` is pushed into the scan, and
        on a streaming-built index only the published ``batch=``
        partitions are visited (the gate of :meth:`_table`).  Rows held:
        O(query terms x published batches), summed per term (incremental
        ingest appends per-batch deltas).  The ``term`` column it filters
        grows with the vocabulary, not with ``n_docs``: term_stats is
        hash-partitioned and unsorted, so row-group statistics rarely
        prune and the whole column is read.
        """
        import pyarrow as pa
        import pyarrow.dataset as ds

        if not terms:
            return {}
        schema = pa.schema([("term", pa.string()), ("doc_freq", pa.int64())])
        parts = [ds.dataset(d, schema=schema, format="parquet")
                 for d in self._table_dirs("term_stats")]
        table = ds.dataset(parts, schema=schema).to_table(
            filter=ds.field("term").isin(list(set(terms))))
        out = {t: 0 for t in terms}
        for term, n in zip(table.column("term").to_pylist(),
                           table.column("doc_freq").to_pylist()):
            out[term] += int(n)
        return out

    def _table_dirs(self, name: str) -> list[str]:
        """The directories holding ``name``'s visible rows: the table's
        published ``batch=`` partitions on a streaming-built index, the
        table directory otherwise (the same gate as :meth:`_table`)."""
        root = os.path.join(self.index_dir, name)
        batches = self.manifest.get("batches")
        if batches and any(e.startswith("batch=") for e in os.listdir(root)):
            return [d for d in (os.path.join(root, f"batch={b}")
                                for b in batches) if os.path.isdir(d)]
        return [root]

    def space_usage(self) -> dict:
        """On-disk byte accounting per index component — the analogue of
        ``SegmentReader::space_usage`` (ref: src/space_usage/mod.rs),
        reported per TABLE rather than per segment (segments share
        columnar parquet files here; the per-segment split the reference
        reports falls out of its file-per-segment layout, not of the
        information content).  Walks file metadata only — no data read,
        no Spark job."""
        import os

        out: dict = {"tables": {}, "total_bytes": 0, "n_files": 0}
        for entry in sorted(os.listdir(self.index_dir)):
            path = os.path.join(self.index_dir, entry)
            if os.path.isfile(path):
                sz = os.path.getsize(path)
                out["tables"][entry] = {"bytes": sz, "n_files": 1}
            else:
                sz = nf = 0
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        sz += os.path.getsize(os.path.join(root, f))
                        nf += 1
                out["tables"][entry] = {"bytes": sz, "n_files": nf}
            out["total_bytes"] += out["tables"][entry]["bytes"]
            out["n_files"] += out["tables"][entry]["n_files"]
        return out

    def warm(self, include_postings: bool = False) -> "IndexReader":
        """Pin the hot index tables in executor memory — the analogue of
        the reference's Warmer API (src/reader/warming.rs): repeated
        queries then skip parquet footers/decompression.

        TERM-ADDRESSED by default: only docmap and term_stats are cached.
        Caching the postings replaces their parquet scan, which KILLS the
        per-term In() predicate pushdown — every query then scans the
        whole cached table instead of pruned row groups (a measured 2x
        suite regression).  The reference's Warmer stays fast because its
        cache is term-addressed; ours is achieved by leaving the postings
        on the cold path, where the term-sorted parquet layout makes each
        lookup prune to a handful of row groups.  Pass
        ``include_postings=True`` only for scan-heavy workloads
        (aggregations over most of the dictionary) on an index that fits
        comfortably in cluster memory."""
        self.term_stats.cache().count()
        self.docmap.cache().count()
        if include_postings:
            self.postings.cache().count()
        return self

    def unpersist(self) -> "IndexReader":
        """Release every table this reader generation has pinned (the
        WarmingState GC analogue — warming.rs garbage_collect).  Only
        tables already materialized unpersist; the reader stays usable,
        reads just fall back to parquet."""
        for name in ("term_stats", "docmap", "postings"):
            df = self.__dict__.get(name)   # cached_property materialized?
            if df is not None:
                df.unpersist()
        return self

    @property
    def deletes(self) -> DataFrame | None:
        """(segment_ord, doc_id) of deleted docs, or None when none exist.
        Not cached: deletes are the one mutable part of an index."""
        p = os.path.join(self.index_dir, "deletes")
        if not os.path.isdir(p):
            return None
        return self.spark.read.schema(DELETES_SCHEMA).parquet(p)

    @cached_property
    def fieldnorms(self) -> DataFrame:
        """(segment_ord, doc_id, num_tokens, fieldnorm_id) decoded from the
        per-segment sentinel rows (see build.FIELDNORM_SENTINEL).  On a
        multi-field index this is the DEFAULT field's chain; use
        :meth:`fieldnorms_of` for a specific field."""
        return self.fieldnorms_of(self.default_field)

    def fieldnorms_of(self, fld: str | None) -> DataFrame:
        import numpy as np
        import pandas as pd

        from tantivy_spark.index.build import decode_sentinel, fieldnorm_sentinel

        chunk_docs = self.chunk_docs  # captured by value into the kernel
        rows = self.postings.filter(F.col("term") == fieldnorm_sentinel(fld)) \
            .select("segment_ord", "chunk_id", "doc_freq", "docs", "fns")

        def decode(batches):
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    counts, fns = decode_sentinel(row)
                    n = len(counts)
                    base = int(row.chunk_id) * chunk_docs
                    yield pd.DataFrame({
                        "segment_ord": np.full(n, row.segment_ord, dtype=np.int32),
                        "doc_id": (base + np.arange(n)).astype(np.int32),
                        "num_tokens": counts.astype(np.int64),
                        "fieldnorm_id": fns.astype(np.int32),
                    })

        return rows.mapInPandas(
            decode,
            schema="segment_ord INT, doc_id INT, num_tokens BIGINT, fieldnorm_id INT")

    def postings_for_terms(self, terms: list[str]) -> DataFrame:
        """Posting rows for a term set — parquet scan with an IN filter
        pushed down to row-group pruning."""
        return self.postings.filter(F.col("term").isin(list(set(terms))))
