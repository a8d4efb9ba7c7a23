"""Incremental index ingestion via Structured Streaming foreachBatch.

The reference has no streaming engine — ingestion is micro-batched
through IndexWriter commits (ARCHITECTURE.md:31-53).  The Spark-native
equivalent: a ``foreachBatch`` sink where every micro-batch becomes a set
of fresh immutable segments appended to the index, with the manifest
playing meta.json's role (atomic swap, opstamp == batch_id).  Periodic
compaction = ``tantivy_spark.index.merge.merge_segments`` on a schedule,
the analogue of the background merge policy.

One write path: a batch is written by the build's own definitions
(``build.segment_postings``, ``segment_docmap``, ``lineage_table``,
``term_stats_table``, ``index_totals``) under the indexer's FULL
``IndexConfig`` — fields, analyzers, fast fields, record option, index
sorting, compression — with only ``n_segments`` and ``segment_expr``
replaced (the batch's segment ordinals start at the manifest's
``next_segment_ord``).  A single batch therefore writes the same tables
as ``build_index`` over the same docs with the same segment expression.

Atomicity: every batch writes into its OWN partition subdirectories
(``postings/batch=N``, ``docmap/batch=N``, ...) with overwrite mode, and
the manifest records the batch only after every write landed.  A crash at
ANY point before the manifest write leaves orphan files that the retry
overwrites exactly — re-delivery is idempotent whether the previous
attempt failed before, between, or after the parquet writes (the
reference's equivalent guarantee is the meta.json atomic swap +
failpoint-tested serializer, tests/failpoints/mod.rs).  Readers see the
``batch`` partition column via partition discovery and only the
partitions the manifest published (``IndexReader._table``); merge reads
through the same gate.

Failpoints: ``indexer.failpoints.add("after_postings")`` makes the next
``process_batch`` raise right after the postings write — the unit tests
inject crashes at each window and assert the retry converges to the
clean-run result.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, replace

from pyspark.sql import DataFrame, SparkSession

from tantivy_spark.index.build import (
    FIELDNORM_SENTINEL,
    IndexConfig,
    _write_manifest,
    checked_config,
    fieldnorm_sentinel,
    index_totals,
    lineage_table,
    segment_docmap,
    segment_postings,
    sentinel_stats,
    term_stats_table,
    write_table,
)

FAILPOINTS = ("after_postings", "after_docmap", "after_lineage",
              "after_term_stats")


class InjectedFailure(IOError):
    """Raised by an armed failpoint (test instrumentation)."""


class IncrementalIndexer:
    def __init__(self, spark: SparkSession, index_dir: str,
                 cfg: IndexConfig | None = None,
                 segments_per_batch: int = 4):
        self.spark = spark
        self.index_dir = index_dir
        self.cfg = checked_config(cfg or IndexConfig())
        self.segments_per_batch = segments_per_batch
        #: armed failure-injection points (see module docstring)
        self.failpoints: set[str] = set()
        os.makedirs(index_dir, exist_ok=True)
        self.manifest_path = os.path.join(index_dir, "meta.json")
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)
            if self.manifest.get("stages"):
                raise ValueError(
                    "IncrementalIndexer requires a fresh or streaming-built "
                    "index dir; extend a batch-built/merged index by "
                    "re-ingesting into a new dir or merging afterwards")
        else:
            self.manifest = {
                "version": 1, "config": asdict(self.cfg), "stages": {},
                "totals": index_totals([], 0, self.cfg.field_cols),
                "batches": {}, "next_segment_ord": 0,
            }
            # persist the empty manifest: a reader over a fresh index sees
            # zero published batches instead of a missing meta.json
            _write_manifest(self.manifest_path, self.manifest)
        self.manifest.setdefault("batches", {})
        self.manifest.setdefault("next_segment_ord",
                                 self.manifest["totals"].get("num_segments", 0))
        self._drop_orphan_batches()

    def _drop_orphan_batches(self) -> None:
        """Crash recovery at startup: delete ``batch=N`` subdirectories the
        manifest never published.  Readers already ignore them
        (IndexReader restricts every table to manifest batches), and a
        redelivered batch overwrites the same paths — this just reclaims
        the space and keeps ad-hoc directory listings honest."""
        import shutil

        published = set(self.manifest["batches"])
        for table in ("postings", "docmap", "term_stats", "lineage"):
            tdir = os.path.join(self.index_dir, table)
            if not os.path.isdir(tdir):
                continue
            for sub in os.listdir(tdir):
                if sub.startswith("batch=") and \
                        sub.split("=", 1)[1] not in published:
                    shutil.rmtree(os.path.join(tdir, sub), ignore_errors=True)

    def _fail(self, point: str) -> None:
        if point in self.failpoints:
            raise InjectedFailure(point)

    def _bdir(self, table: str, bid: str) -> str:
        return os.path.join(self.index_dir, table, f"batch={bid}")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        bid = str(int(batch_id))
        if bid in self.manifest["batches"]:
            return  # re-delivery of a committed batch: exactly-once skip
        t0 = time.time()
        n_seg = self.segments_per_batch
        base = int(self.manifest["next_segment_ord"])
        seg_expr = (self.cfg.segment_expr
                    or f"pmod(xxhash64({self.cfg.key_col}), {n_seg})")
        cfg = replace(self.cfg, n_segments=n_seg,
                      segment_expr=f"{base} + ({seg_expr})")

        def write(table: str, df: DataFrame) -> None:
            # an OVERWRITE of this batch's own subdirectory: a retried
            # batch rewrites the same paths byte-for-byte
            write_table(df, self._bdir(table, bid), cfg.compression)

        write("postings", segment_postings(batch_df, cfg))
        self._fail("after_postings")
        write("docmap", segment_docmap(batch_df, cfg))
        self._fail("after_docmap")
        postings = self.spark.read.parquet(self._bdir("postings", bid))
        write("lineage", lineage_table(postings, cfg.field_cols))
        self._fail("after_lineage")
        # the term_stats delta of this batch (readers sum per term)
        write("term_stats", term_stats_table(postings))
        self._fail("after_term_stats")

        chains, n_new = sentinel_stats(postings)
        t = self.manifest["totals"]
        totals = index_totals(self._published_chains() + chains,
                              t["num_segments"] + n_new, cfg.field_cols)
        self.manifest["batches"][bid] = {
            "segments": [base, base + n_seg],
            "docs": totals["num_docs"] - t["num_docs"],
            "wall_sec": time.time() - t0,
        }
        self.manifest["totals"] = totals
        self.manifest["next_segment_ord"] = base + n_seg
        # the atomic publish point: everything above is invisible to
        # readers-of-the-manifest until this rename lands
        _write_manifest(self.manifest_path, self.manifest)

    def _published_chains(self) -> list[tuple[str, int, int]]:
        """The published totals as :func:`index_totals` input rows: one
        (sentinel term, docs, tokens) row per field chain."""
        t = self.manifest["totals"]
        if not self.cfg.field_cols:
            return [(FIELDNORM_SENTINEL, t["num_docs"], t["total_num_tokens"])]
        return [(fieldnorm_sentinel(f), e["num_docs"], e["total_num_tokens"])
                for f, e in t.get("fields", {}).items()]
