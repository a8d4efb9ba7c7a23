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


def row_groups_holding(dataset, names: list[str], keys: list[tuple]) -> list:
    """The row groups of a pyarrow parquet ``dataset``, as fragments,
    whose min/max statistics on the columns ``names`` can hold one of
    the sorted value tuples ``keys``; a row group without those
    statistics is kept.  Only footers are read, and each row group costs
    one bisect.  A pushed OR of the k key equalities would keep the same
    row groups, but it is simplified once per row group and evaluated
    on every row read, so its cost grows with k squared."""
    from bisect import bisect_left, bisect_right

    def holds(stats: list) -> bool:
        if any(s is None or s.get("min") is None for s in stats):
            return True
        lo = tuple(s["min"] for s in stats)
        hi = tuple(s["max"] for s in stats)
        # a key the row group can hold lies in [lo, hi] in tuple order
        near = keys[bisect_left(keys, lo):bisect_right(keys, hi)]
        return any(all(a <= v <= b for v, a, b in zip(key, lo, hi))
                   for key in near)

    out = []
    for frag in dataset.get_fragments() if keys else []:
        ids = [rg.id for rg in frag.row_groups
               if holds([rg.statistics.get(n) for n in names])]
        if ids:
            out.append(frag.subset(row_group_ids=ids))
    return out


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
        driver with pyarrow (:meth:`lookup`) — no Spark job.

        The same statistics lookup the reference does when building a
        Weight (bm25.rs:95-129).  Only the ``term`` and ``doc_freq``
        columns are read and ``term IN (...)`` is pushed into the scan.
        Rows held: O(query terms x published batches), summed per term
        (incremental ingest appends per-batch deltas).  The ``term``
        column it filters grows with the vocabulary, not with
        ``n_docs``: term_stats is hash-partitioned and unsorted, so
        row-group statistics rarely prune and the whole column is read.
        """
        import pyarrow.compute as pc

        if not terms:
            return {}
        table = self.lookup("term_stats", ["term", "doc_freq"],
                            pc.field("term").isin(list(set(terms))))
        out = {t: 0 for t in terms}
        for term, n in zip(table.column("term").to_pylist(),
                           table.column("doc_freq").to_pylist()):
            out[term] += int(n)
        return out

    def lookup(self, name: str, columns: list[str], filter,
               keys: list[tuple] | None = None) -> "pa.Table":
        """``columns`` of the rows of index table ``name`` that match the
        pyarrow expression ``filter``, read on the driver with pyarrow —
        no Spark job.  Only the published ``batch=`` partitions of a
        streaming-built index are visited (the gate of :meth:`_table`),
        and the filter is pushed into the scan.

        ``keys``: on a table whose files are sorted by the leading
        columns of ``columns`` (the docmap, by ``(segment_ord,
        doc_id)``), the sorted value tuples of those columns that the
        wanted rows have.  Only the row groups whose min/max statistics
        can hold one of them are read (:func:`row_groups_holding`), so a
        lookup of k keys reads about k row groups at any table size."""
        import pyarrow.dataset as ds

        parts = [ds.dataset(d, format="parquet")
                 for d in self._table_dirs(name)]
        if keys is not None:
            by = columns[:len(keys[0]) if keys else 0]
            parts = [ds.FileSystemDataset(row_groups_holding(p, by, keys),
                                          p.schema, p.format, p.filesystem)
                     for p in parts]
        return ds.dataset(parts).to_table(columns=columns, filter=filter)

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
