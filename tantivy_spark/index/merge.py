"""Segment merge: k segments -> n, tantivy stacking semantics.

Reference semantics (/root/reference/src/indexer/merger.rs:648-847):
doc ids are remapped by *stacking* — segment k's docs get offset
sum(max_doc of segments < k); per-term postings from different segments
concatenate in segment order (doc ranges are disjoint, so the merged list
stays sorted); doc_freqs sum; total_num_tokens is recomputed.

Unlike a naive compact-to-one, the merger targets ``n_target_segments``
output segments (the LogMergePolicy idea, src/indexer/segment_updater.rs:
keep a tiered set of segments so per-segment query kernels stay parallel).
Input segments are grouped contiguously in segment order, balanced by
alive doc count; each group stacks into one output segment.  With
``n_target_segments=1`` this degenerates to the classic full compaction.

Spark-first shape: because our posting lists are stored as bounded chunks
(<= CHUNK_DOCS postings per row), merging needs NO pairwise list merge at
all — each chunk is independently rebased (decode -> +offset -> re-encode,
vectorized numpy) and renumbered into the merged term's chunk sequence
within its output segment.  The only coordination is the per-(term,
out-segment) chunk renumbering, computed as a prefix-sum over the tiny
(term, segment) chunk-count table.

Skew: the rebase shuffle is RANGE-partitioned by (term, segment, chunk),
so a hot term's thousands of chunks spread across contiguous partitions
instead of hammering one reducer (r8: this replaced hash-(term, salt)
partitioning — range bounds give the same skew spreading AND leave the
kernel output term-sorted, so no post-kernel layout exchange is needed).
Renumbering is order-deterministic regardless of placement, so the
partitioning never changes the output (asserted by tests).

SORTED indexes (config.sort_col set, ref merger.rs sorted path +
test_merge_facets_sort_asc/desc): stacking would break the sort, so the
merge instead materializes an old->new doc-id permutation per output
segment — (sortv, key) order, the SAME tie-break the build uses, so
wide-build + sorted-merge reproduces a direct sorted build — and every
term's postings re-sort globally by new doc id before re-chunking
(_sorted_merge_stream); fieldnorm chains scatter per doc instead of
concatenating.  The permutation is the analogue of the reference's
SegmentDocIdMapping (~8 bytes/doc, held in the merge thread's RAM
there): packed distributed, assembled once on the driver, and shipped
via sc.broadcast — one copy per executor, never in task closures.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from tantivy_spark.bm25 import tf_cache_f32
from tantivy_spark.index import codec
from tantivy_spark.index.build import (
    CHUNK_DOCS,
    FIELD_SEP,
    FIELDNORM_SENTINEL,
    POSTINGS_SCHEMA,
    _write_manifest,
    fieldnorm_sentinel,
)


def _dead_in_chunk(dd: np.ndarray | None, base: int, n: int) -> np.ndarray | None:
    """Chunk-local (0-based) indices of dead docs within [base, base+n)."""
    if dd is None or not len(dd):
        return None
    lo = np.searchsorted(dd, base, side="left")
    hi = np.searchsorted(dd, base + n, side="left")
    if lo == hi:
        return None
    return (dd[lo:hi] - base).astype(np.int64)


def _rebase_kernel(offsets: dict[int, int], out_seg: dict[int, int],
                   avg_fieldnorm: float,
                   dead: dict[int, np.ndarray] | None = None,
                   avg_by_field: dict[str, float] | None = None):
    """mapInPandas kernel: rebase each posting chunk by its segment offset
    into its output segment.

    With ``dead`` (per-segment sorted dead doc ids), deleted docs are
    physically dropped and the survivors renumbered densely — the
    reference merger's alive-doc remapping (merger.rs:697-708):
    ``new_id = old_id - #dead_before(old_id) + alive_offset(segment)``.

    ``avg_by_field``: per-field average fieldnorms of a multi-field index;
    the block-max (wand_fn, wand_tf) pair re-selection must use the
    TERM'S FIELD average, matching the build kernel, or WAND pruning over
    the merged index would not be exact.
    """
    cache = tf_cache_f32(max(avg_fieldnorm, 1e-9))
    field_caches = {f: tf_cache_f32(max(a, 1e-9))
                    for f, a in (avg_by_field or {}).items()}
    dead = dead or {}

    def cache_of(term: str):
        if field_caches and FIELD_SEP in term:
            return field_caches.get(term.split(FIELD_SEP, 1)[0], cache)
        return cache

    def rebase(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_rows = []
            for row in pdf.itertuples(index=False):
                seg = int(row.segment_ord)
                off = offsets[seg]
                meta = list(zip(row.last_docs, row.n_docs, row.bits_doc,
                                row.bits_tf, row.wand_fn, row.wand_tf))
                d, t = codec.decode_postings(bytes(row.docs), bytes(row.tfs), meta)
                fn = codec.decode_fns(bytes(row.fns))
                pos_flat = (codec.decode_positions(bytes(row.pos), t)
                            if row.pos is not None else None)
                dd = dead.get(seg)
                if dd is not None and len(dd):
                    alive = ~np.isin(d, dd)
                    if pos_flat is not None:
                        pos_keep = np.repeat(alive, t)
                        pos_flat = pos_flat[pos_keep]
                    d, t, fn = d[alive], t[alive], fn[alive]
                    if len(d) == 0:
                        continue
                    d = d - np.searchsorted(dd, d)
                db, tb, fb, new_meta = codec.encode_postings(
                    d + off, t, fn, cache_of(row.term))
                pb = (codec.encode_positions(pos_flat, t)
                      if pos_flat is not None else None)
                m = list(zip(*new_meta))
                out_rows.append((
                    out_seg[seg], row.term, int(row.new_chunk_id), len(d),
                    int(t.sum()), db, tb, fb, pb,
                    list(m[0]), list(m[1]), list(m[2]), list(m[3]),
                    list(m[4]), list(m[5]),
                ))
            if out_rows:
                yield pd.DataFrame(out_rows, columns=[
                    "segment_ord", "term", "chunk_id", "doc_freq", "total_tf",
                    "docs", "tfs", "fns", "pos", "last_docs", "n_docs",
                    "bits_doc", "bits_tf", "wand_fn", "wand_tf",
                ])

    return rebase


def _collect_perms(sorted_docmap, seg_docs: dict[int, int]
                   ) -> dict[int, np.ndarray]:
    """Assemble the old->new doc-id permutation (the reference merger's
    SegmentDocIdMapping, merger.rs:648-847) as per-segment int64 arrays
    (-1 = deleted).  The packing runs DISTRIBUTED — each mapInPandas
    batch emits one compact binary row per segment it saw (~16 bytes per
    doc on the wire) — and the driver only scatters the packed slices
    into the final arrays: ~8 bytes/doc resident, the same working set
    the reference's single merge thread holds in RAM for this mapping.
    The caller ships the result via ``sc.broadcast`` (one torrent copy
    per executor), never inside task closures."""
    def _pack(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for seg, sub in pdf.groupby("segment_ord"):
                rows.append((int(seg),
                             sub["doc_id"].to_numpy(np.int64).tobytes(),
                             sub["new_id"].to_numpy(np.int64).tobytes()))
            yield pd.DataFrame(rows,
                               columns=["segment_ord", "doc_ids", "new_ids"])

    packed = (sorted_docmap.select("segment_ord", "doc_id", "new_id")
              .mapInPandas(_pack,
                           "segment_ord INT, doc_ids BINARY, new_ids BINARY")
              .collect())
    perms = {seg: np.full(n, -1, dtype=np.int64)
             for seg, n in seg_docs.items()}
    for r in packed:
        d = np.frombuffer(r["doc_ids"], dtype=np.int64)
        nd = np.frombuffer(r["new_ids"], dtype=np.int64)
        perms[int(r["segment_ord"])][d] = nd
    return perms


def _sorted_merge_stream(perms_bc, avg_fieldnorm: float, chunk_docs: int,
                         avg_by_field: dict[str, float] | None = None):
    """mapInPandas kernel for SORTED-index merge (ref: merger.rs — a
    sorted index merges by k-way-merging doc orders on the sort key, not
    by stacking).  Input: posting rows repartitioned by (term, out_g) and
    sorted within partitions by (term, out_g, segment_ord, chunk_id), so
    every (term, output-segment) group is CONTIGUOUS within one
    partition.  The kernel streams Arrow batches, carrying the trailing
    (possibly incomplete) group over to the next batch — per-group work
    amortizes over ~10k-row batches instead of paying applyInPandas
    conversion overhead once per term.

    Per group: decode all source chunks, map doc ids through the
    broadcast permutation (``perms_bc`` — one copy per executor, the
    analogue of the reference's in-RAM SegmentDocIdMapping; -1 =
    deleted, dropped), re-sort the whole posting list by NEW doc id, and
    re-encode into ``chunk_docs``-bounded chunks.

    There is no salting: a term's postings need a GLOBAL re-sort within
    the output segment, so a hot term is one group — the same
    serial-per-term shape the reference merger has.
    """
    cache = tf_cache_f32(max(avg_fieldnorm, 1e-9))
    field_caches = {f: tf_cache_f32(max(a, 1e-9))
                    for f, a in (avg_by_field or {}).items()}

    def cache_of(term: str):
        if field_caches and FIELD_SEP in term:
            return field_caches.get(term.split(FIELD_SEP, 1)[0], cache)
        return cache

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        perms = perms_bc.value
        term = pdf["term"].iloc[0]
        g = int(pdf["out_g"].iloc[0])
        tf_cache = cache_of(term)
        d_parts, t_parts, f_parts, p_parts = [], [], [], []
        has_pos = pdf["pos"].notna().any()
        for row in pdf.itertuples(index=False):
            seg = int(row.segment_ord)
            meta = list(zip(row.last_docs, row.n_docs, row.bits_doc,
                            row.bits_tf, row.wand_fn, row.wand_tf))
            d, t = codec.decode_postings(bytes(row.docs), bytes(row.tfs),
                                         meta)
            fn = codec.decode_fns(bytes(row.fns))
            pos_flat = (codec.decode_positions(bytes(row.pos), t)
                        if row.pos is not None else None)
            nd = perms[seg][d]
            alive = nd >= 0
            if not alive.all():
                if pos_flat is not None:
                    pos_flat = pos_flat[np.repeat(alive, t)]
                nd, t, fn = nd[alive], t[alive], fn[alive]
            if len(nd) == 0:
                continue
            d_parts.append(nd)
            t_parts.append(t)
            f_parts.append(fn)
            if has_pos:
                p_parts.append(pos_flat if pos_flat is not None
                               else np.zeros(0, np.int64))
        if not d_parts:
            return pd.DataFrame(columns=[
                "segment_ord", "term", "chunk_id", "doc_freq", "total_tf",
                "docs", "tfs", "fns", "pos", "last_docs", "n_docs",
                "bits_doc", "bits_tf", "wand_fn", "wand_tf"])
        d = np.concatenate(d_parts)
        t = np.concatenate(t_parts)
        fn = np.concatenate(f_parts)
        # new doc ids are unique within a (term, out_g) group (each doc
        # lists a term once), so the faster unstable sort is exact
        order = np.argsort(d)
        d, t_new, fn = d[order], t[order], fn[order]
        pos_new = None
        if has_pos:
            pos_flat = np.concatenate(p_parts)
            # vectorized variable-length gather: posting i's position
            # slice moves as one unit to its sorted rank
            starts = np.concatenate(([0], np.cumsum(t)[:-1]))
            t_ord, starts_ord = t[order], starts[order]
            new_off = np.concatenate(([0], np.cumsum(t_ord)[:-1]))
            gather = (starts_ord.repeat(t_ord)
                      + (np.arange(int(t_ord.sum())) - new_off.repeat(t_ord)))
            pos_new = pos_flat[gather]
        t = t_new
        pcum = np.concatenate(([0], np.cumsum(t)))
        rows = []
        for ci, c0 in enumerate(range(0, len(d), chunk_docs)):
            c1 = min(c0 + chunk_docs, len(d))
            db, tb, fb, new_meta = codec.encode_postings(
                d[c0:c1], t[c0:c1], fn[c0:c1], tf_cache)
            pb = (codec.encode_positions(pos_new[pcum[c0]:pcum[c1]],
                                         t[c0:c1])
                  if pos_new is not None else None)
            m = list(zip(*new_meta))
            rows.append((g, term, ci, c1 - c0, int(t[c0:c1].sum()),
                         db, tb, fb, pb,
                         list(m[0]), list(m[1]), list(m[2]), list(m[3]),
                         list(m[4]), list(m[5])))
        return pd.DataFrame(rows, columns=[
            "segment_ord", "term", "chunk_id", "doc_freq", "total_tf",
            "docs", "tfs", "fns", "pos", "last_docs", "n_docs",
            "bits_doc", "bits_tf", "wand_fn", "wand_tf"])

    def stream(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            terms = pdf["term"].to_numpy()
            ogs = pdf["out_g"].to_numpy()
            change = np.flatnonzero((terms[1:] != terms[:-1])
                                    | (ogs[1:] != ogs[:-1])) + 1
            starts = np.concatenate(([0], change)).astype(np.int64)
            ends = np.concatenate((change, [len(pdf)])).astype(np.int64)
            # hold the last group back — it may continue in the next batch
            out = [merge_group(pdf.iloc[s:e])
                   for s, e in zip(starts[:-1], ends[:-1])]
            pending = pdf.iloc[starts[-1]:].reset_index(drop=True)
            out = [o for o in out if len(o)]
            if out:
                yield pd.concat(out, ignore_index=True)
        if pending is not None and len(pending):
            final = merge_group(pending)
            if len(final):
                yield final

    return stream


def _plan_groups(alive_docs: dict[int, int], n_target: int
                 ) -> tuple[dict[int, int], dict[int, int]]:
    """Contiguous, doc-count-balanced grouping of input segments.

    Returns (out_seg: input seg -> output segment ord,
             offsets: input seg -> doc offset within its output segment).
    Stacking within a group follows ascending input-segment order, so the
    result is deterministic and independent of parallelism."""
    segs = sorted(alive_docs)
    total = sum(alive_docs.values())
    n_target = max(1, min(n_target, max(len(segs), 1)))
    out_seg: dict[int, int] = {}
    offsets: dict[int, int] = {}
    g, acc_g = 0, 0
    for i, seg in enumerate(segs):
        segs_left = len(segs) - i
        groups_left = n_target - g
        if g < n_target - 1 and acc_g > 0 and (
                acc_g * n_target >= total or segs_left <= groups_left):
            g += 1
            acc_g = 0
        out_seg[seg] = g
        offsets[seg] = acc_g
        acc_g += alive_docs[seg]
    return out_seg, offsets


def _plan_from_groups(alive_docs: dict[int, int], groups: dict[int, int]
                      ) -> tuple[dict[int, int], dict[int, int]]:
    """Normalize an explicit segment->group assignment into dense output
    ordinals (ordered by each group's smallest input segment) and
    per-segment stacking offsets (ascending input-segment order within a
    group)."""
    by_group: dict[int, list[int]] = {}
    for seg in sorted(alive_docs):
        by_group.setdefault(groups[seg], []).append(seg)
    ordered = sorted(by_group.values(), key=lambda segs: segs[0])
    out_seg: dict[int, int] = {}
    offsets: dict[int, int] = {}
    for g, segs in enumerate(ordered):
        acc = 0
        for seg in segs:
            out_seg[seg] = g
            offsets[seg] = acc
            acc += alive_docs[seg]
    return out_seg, offsets


def log_merge_plan(alive_docs: dict[int, int], min_layer_docs: int = 10_000,
                   layer_factor: float = 3.0) -> dict[int, int]:
    """LogMergePolicy-style merge selection (ref: LogMergePolicy,
    src/indexer/segment_updater.rs / merge_policy): segments bucket into
    logarithmic size layers (everything below ``min_layer_docs`` shares
    layer 0); each layer with >= 2 segments merges into one output
    segment, singleton layers pass through untouched.  Returns a
    segment -> group assignment for ``merge_segments(groups=...)``.

    This keeps the tiered shape the reference maintains: small fresh
    segments coalesce aggressively, big settled segments are left alone
    (so a merge never rewrites the whole index just to absorb a trickle
    of new batches)."""
    import math

    layer_of = {}
    for seg, n in alive_docs.items():
        if n <= min_layer_docs:
            layer_of[seg] = 0
        else:
            layer_of[seg] = 1 + int(
                math.floor(math.log(n / min_layer_docs) / math.log(layer_factor)))
    return {seg: layer for seg, layer in layer_of.items()}


def maybe_compact(spark: SparkSession, index_dir: str, out_dir: str,
                  max_segments: int = 16,
                  n_target_segments: int = 8) -> dict | None:
    """Merge-policy analogue (ref: LogMergePolicy / segment_updater.rs):
    compact the index when it has accumulated more than ``max_segments``
    segments (e.g. after streaming ingest), down to ``n_target_segments``
    (NOT to one — per-segment query kernels parallelize by segment, so a
    single merged segment would serialize WAND).  Returns the new manifest
    or None when no compaction was needed."""
    with open(os.path.join(index_dir, "meta.json")) as f:
        manifest = json.load(f)
    if int(manifest["totals"].get("num_segments", 0)) <= max_segments:
        return None
    return merge_segments(spark, index_dir, out_dir,
                          n_target_segments=n_target_segments)


def merge_segments(spark: SparkSession, index_dir: str, out_dir: str,
                   n_target_segments: int = 1,
                   groups: dict[int, int] | None = None,
                   compression: str = "zstd") -> dict:
    """Merge the segments of ``index_dir`` into ``n_target_segments``
    segments at ``out_dir`` (or into an explicit ``groups`` assignment,
    e.g. from :func:`log_merge_plan`).  Returns the new manifest."""
    t_start = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str, t_prev: list) -> None:
        now = time.time()
        phases[name] = round(now - t_prev[0], 3)
        t_prev[0] = now

    _t = [t_start]
    with open(os.path.join(index_dir, "meta.json")) as f:
        manifest = json.load(f)
    os.makedirs(out_dir, exist_ok=True)

    chunk_docs = int(manifest.get("config", {}).get("chunk_docs", CHUNK_DOCS))
    lineage = spark.read.parquet(os.path.join(index_dir, "lineage")).collect()
    seg_docs = {int(r["segment_ord"]): int(r["n_docs"] or 0) for r in lineage}

    # deletes are physically dropped at merge (reference: merger drops
    # deleted docs and renumbers the survivors; total_num_tokens is
    # recomputed from alive fieldnorms — merger.rs:85-114, 697-708)
    dead: dict[int, np.ndarray] = {}
    deletes_path = os.path.join(index_dir, "deletes")
    if os.path.isdir(deletes_path):
        for row in spark.read.parquet(deletes_path).distinct().collect():
            dead.setdefault(int(row["segment_ord"]), []).append(int(row["doc_id"]))
        dead = {s: np.sort(np.array(v, dtype=np.int64)) for s, v in dead.items()}

    alive_docs = {seg: n - len(dead.get(seg, ())) for seg, n in seg_docs.items()}
    if groups is not None:
        out_seg, offsets = _plan_from_groups(alive_docs, groups)
    else:
        out_seg, offsets = _plan_groups(alive_docs, n_target_segments)
    n_out = len(set(out_seg.values())) if out_seg else 1
    total_alive = sum(alive_docs.values())
    oseg_expr = F.create_map(
        *[x for seg, g in out_seg.items() for x in (F.lit(seg), F.lit(g))])

    # ---- SORTED-index merge (ref: merger.rs sorted path — doc ids of
    # the merged segment follow the index sort key, not stacking).  The
    # old->new permutation is the analogue of the reference's
    # SegmentDocIdMapping (~8 bytes/doc, held in the merge thread's RAM
    # there); here it is packed DISTRIBUTED, assembled once on the
    # driver, and shipped via sc.broadcast — one torrent copy per
    # executor, never pickled into task closures.  Tie-break matches the
    # build's (sortv, key) order, so wide-build + sorted-merge
    # reproduces a direct sorted build byte-for-byte.
    sort_col = manifest.get("config", {}).get("sort_col") or None
    docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
    if dead:
        dels_df = spark.read.parquet(deletes_path).distinct()
        docmap = docmap.join(F.broadcast(dels_df),
                             ["segment_ord", "doc_id"], "left_anti")
    perms_bc = None
    sorted_docmap = None
    if sort_col and "sortv" in docmap.columns:
        first = (F.col("sortv").desc() if sort_col.startswith("desc:")
                 else F.col("sortv").asc())
        w_sort = Window.partitionBy("g").orderBy(first, F.col("key").asc())
        # pinned: used twice (permutation packing + docmap rebase) —
        # without the pin the window sort job runs twice (r8)
        sorted_docmap = (docmap
                         .withColumn("g", oseg_expr[F.col("segment_ord")])
                         .withColumn("new_id",
                                     F.row_number().over(w_sort) - 1)
                         .persist())

    field_cols = manifest.get("config", {}).get("field_cols") or None
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    real = postings.filter(~F.col("term").startswith(FIELDNORM_SENTINEL))
    sent = postings.filter(F.col("term").startswith(FIELDNORM_SENTINEL))

    # alive-only token counts PER SENTINEL CHAIN (drives both the
    # block-max caches and the merged manifest) — distributed over the
    # chunked sentinel rows, never a whole-index driver collect
    def _sent_stats(batches):
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                n = int(row.doc_freq)
                base = int(row.chunk_id) * chunk_docs
                counts = codec.vint_decode(bytes(row.docs), n)
                loc = _dead_in_chunk(dead.get(int(row.segment_ord)), base, n)
                if loc is not None:
                    mask = np.ones(n, dtype=bool)
                    mask[loc] = False
                    counts = counts[mask]
                recs.append((row.term, int(counts.sum())))
            if recs:
                yield pd.DataFrame(recs, columns=["term", "tok_alive"])

    def _tok_job():
        if dead:
            return (sent.select("term", "segment_ord", "chunk_id",
                                "doc_freq", "docs")
                    .mapInPandas(_sent_stats, "term STRING, tok_alive LONG")
                    .groupBy("term")
                    .agg(F.coalesce(F.sum("tok_alive"), F.lit(0)).alias("t"))
                    .collect())
        # no deletes: alive tokens per chain are exactly the stored
        # chunk total_tf sums — a column-pruned JVM agg, no sentinel
        # vint-decode job (r8: the decode pass only pays off when dead
        # docs must be masked out)
        return (sent.groupBy("term")
                .agg(F.coalesce(F.sum("total_tf"), F.lit(0)).alias("t"))
                .collect())

    # the permutation packing (sorted indexes) and the token-stats agg
    # are independent driver-blocking jobs — overlap them (r8)
    from concurrent.futures import ThreadPoolExecutor as _TPE
    if sorted_docmap is not None:
        with _TPE(max_workers=2) as _ex:
            _f_perm = _ex.submit(_collect_perms, sorted_docmap, seg_docs)
            _f_tok = _ex.submit(_tok_job)
            tok_rows = _f_tok.result()
            perms_bc = spark.sparkContext.broadcast(_f_perm.result())
    else:
        tok_rows = _tok_job()
    _mark("plan_stats", _t)
    alive_tokens = sum(int(r["t"]) for r in tok_rows)
    avg_fn = (alive_tokens / total_alive) if total_alive else 1.0
    avg_by_field = None
    if field_cols:
        avg_by_field = {
            r["term"].split(FIELD_SEP, 1)[1]:
                (int(r["t"]) / total_alive) if total_alive else 1.0
            for r in tok_rows}

    if perms_bc is not None:
        # sorted merge: every (term, output-segment) group re-sorts by
        # NEW doc id, so no salting applies (the reference merger is
        # equally serial per term).  Groups are made contiguous within
        # shuffle partitions and streamed through mapInPandas — batch-
        # amortized instead of one pandas conversion per term.
        # RANGE-partitioned by (term, out_g) BEFORE the kernel: equal
        # keys land in one partition (groups stay whole for the stream
        # carryover), the kernel output is already term-range-laid-out,
        # and the post-kernel repartitionByRange — whose RangePartitioner
        # sampling job re-executed the whole merge kernel — is gone (r8)
        merged = (real.withColumn("out_g", oseg_expr[F.col("segment_ord")])
                  .repartitionByRange(
                      max(spark.sparkContext.defaultParallelism, 8),
                      "term", "out_g")
                  .sortWithinPartitions("term", "out_g",
                                        "segment_ord", "chunk_id")
                  .mapInPandas(
                      _sorted_merge_stream(perms_bc, avg_fn, chunk_docs,
                                           avg_by_field),
                      schema=POSTINGS_SCHEMA))
    else:
        # ---- per-(term, out-segment) chunk renumbering via prefix sums ---
        counts = (real.groupBy("term", "segment_ord")
                  .agg(F.count("*").alias("n_chunks"))
                  .withColumn("out_seg", oseg_expr[F.col("segment_ord")]))
        w = (Window.partitionBy("term", "out_seg").orderBy("segment_ord")
             .rowsBetween(Window.unboundedPreceding, -1))
        base = counts.withColumn(
            "chunk_base", F.coalesce(F.sum("n_chunks").over(w), F.lit(0)))
        rebased_input = (
            real.join(base.select("term", "segment_ord", "chunk_base"),
                      ["term", "segment_ord"])
            .withColumn("new_chunk_id",
                        F.col("chunk_base") + F.col("chunk_id"))
            .drop("chunk_base")
            # RANGE-partitioned + sorted BEFORE the kernel (r8): chunk
            # rebase is row-independent, so range partitioning both
            # spreads a hot term's chunks across reducers (the job the
            # salt used to do) and leaves the kernel output in final
            # term-sorted layout — the post-kernel repartitionByRange,
            # whose RangePartitioner sampling job re-executed the whole
            # rebase kernel, is gone
            .repartitionByRange(
                max(spark.sparkContext.defaultParallelism, 8),
                "term", "segment_ord", "chunk_id")
            .sortWithinPartitions("term", "segment_ord", "chunk_id")
        )
        merged = rebased_input.mapInPandas(
            _rebase_kernel(offsets, out_seg, avg_fn, dead, avg_by_field),
            schema=POSTINGS_SCHEMA)

    # ---- merged fieldnorm sentinels: concat per-doc stats in segment
    # order within each output segment, re-chunked per CHUNK_DOCS (one
    # bounded row per chunk — never a whole-segment cell)
    def merge_sentinels(pdf: pd.DataFrame) -> pd.DataFrame:
        # one invocation per (output segment, sentinel term): each field's
        # chain merges independently with identical stacking
        pdf = pdf.sort_values(["segment_ord", "chunk_id"], ignore_index=True)
        g = out_seg[int(pdf["segment_ord"].iloc[0])]
        sentinel_term = pdf["term"].iloc[0]
        counts_parts, fns_parts = [], []
        for row in pdf.itertuples(index=False):
            n = int(row.doc_freq)
            cbase = int(row.chunk_id) * chunk_docs
            counts = codec.vint_decode(bytes(row.docs), n)
            fns = np.frombuffer(bytes(row.fns), dtype=np.uint8)
            loc = _dead_in_chunk(dead.get(int(row.segment_ord)), cbase, n)
            if loc is not None:
                mask = np.ones(n, dtype=bool)
                mask[loc] = False
                counts, fns = counts[mask], fns[mask]
            counts_parts.append(counts)
            fns_parts.append(fns)
        all_counts = np.concatenate(counts_parts) if counts_parts else np.zeros(0, np.uint32)
        all_fns = np.concatenate(fns_parts) if fns_parts else np.zeros(0, np.uint8)
        n_all = len(all_counts)
        rows = []
        for c0 in range(0, n_all, chunk_docs) if n_all else [0]:
            c1 = min(c0 + chunk_docs, n_all)
            rows.append((
                g, sentinel_term, c0 // chunk_docs, c1 - c0,
                int(all_counts[c0:c1].sum()),
                codec.vint_encode(all_counts[c0:c1].astype(np.uint32)), b"",
                all_fns[c0:c1].tobytes(), None,
                [], [], [], [], [], [],
            ))
        return pd.DataFrame(rows, columns=[
            "segment_ord", "term", "chunk_id", "doc_freq", "total_tf",
            "docs", "tfs", "fns", "pos", "last_docs", "n_docs",
            "bits_doc", "bits_tf", "wand_fn", "wand_tf"])

    if perms_bc is not None:
        # sorted merge: scatter each doc's stats to its NEW position
        # instead of concatenating in stacking order
        group_sizes: dict[int, int] = {}
        for seg, g in out_seg.items():
            group_sizes[g] = group_sizes.get(g, 0) + alive_docs[seg]

        def merge_sentinels_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
            perms = perms_bc.value
            g = out_seg[int(pdf["segment_ord"].iloc[0])]
            sentinel_term = pdf["term"].iloc[0]
            n_all = group_sizes[g]
            all_counts = np.zeros(n_all, dtype=np.uint32)
            all_fns = np.zeros(n_all, dtype=np.uint8)
            for row in pdf.itertuples(index=False):
                seg = int(row.segment_ord)
                n = int(row.doc_freq)
                base = int(row.chunk_id) * chunk_docs
                counts = codec.vint_decode(bytes(row.docs), n)
                fns = np.frombuffer(bytes(row.fns), dtype=np.uint8)
                nd = perms[seg][base:base + n]
                keep = nd >= 0
                all_counts[nd[keep]] = counts[keep]
                all_fns[nd[keep]] = fns[keep]
            rows = []
            for c0 in range(0, n_all, chunk_docs) if n_all else [0]:
                c1 = min(c0 + chunk_docs, n_all)
                rows.append((
                    g, sentinel_term, c0 // chunk_docs, c1 - c0,
                    int(all_counts[c0:c1].sum()),
                    codec.vint_encode(all_counts[c0:c1].astype(np.uint32)),
                    b"", all_fns[c0:c1].tobytes(), None,
                    [], [], [], [], [], [],
                ))
            return pd.DataFrame(rows, columns=[
                "segment_ord", "term", "chunk_id", "doc_freq", "total_tf",
                "docs", "tfs", "fns", "pos", "last_docs", "n_docs",
                "bits_doc", "bits_tf", "wand_fn", "wand_tf"])

        sentinel_fn = merge_sentinels_sorted
    else:
        sentinel_fn = merge_sentinels

    sent_merged = (sent.withColumn("g", oseg_expr[F.col("segment_ord")])
                   .groupBy("g", "term")
                   .applyInPandas(lambda pdf: sentinel_fn(pdf.drop(columns=["g"])),
                                  schema=POSTINGS_SCHEMA))

    # final layout: the kernels already receive range-partitioned,
    # term-sorted input and preserve row order, so every term lookup
    # prunes to one partition's row groups — the FST-ordered-dictionary
    # equivalent at file-layout level — without an extra post-kernel
    # exchange (sentinel rows ride in their own applyInPandas
    # partitions; readers address them by term filter, not layout)
    # ---- docmap rebase (alive docs only, densely renumbered) --------------
    # fast-field columns ride on the docmap and are carried through
    extra = [c for c in docmap.columns
             if c not in ("segment_ord", "doc_id")]
    if sorted_docmap is not None:
        docmap_out = sorted_docmap.select(
            F.col("g").cast("int").alias("segment_ord"),
            F.col("new_id").cast("int").alias("doc_id"),
            *extra)
    else:
        off_expr = F.create_map(
            *[x for seg, off in offsets.items()
              for x in (F.lit(seg), F.lit(off))])
        w_alive = Window.partitionBy("segment_ord").orderBy("doc_id")
        docmap_out = (docmap
                      .withColumn("alive_rank",
                                  F.row_number().over(w_alive) - 1)
                      .select(
                          oseg_expr[F.col("segment_ord")].cast("int")
                          .alias("segment_ord"),
                          (F.col("alive_rank")
                           + off_expr[F.col("segment_ord")]).cast("int")
                          .alias("doc_id"),
                          *extra))

    # postings and docmap are independent scans/writes — submit them
    # concurrently so the small docmap job back-fills executor slots the
    # postings kernel waves leave idle (r8; same overlap pattern as
    # build_index's docmap || postings stage pair)
    from concurrent.futures import ThreadPoolExecutor

    def _postings_job():
        merged.unionByName(sent_merged) \
            .write.mode("overwrite").option("compression", compression)\
            .parquet(os.path.join(out_dir, "postings"))

    def _docmap_job():
        docmap_out.write.mode("overwrite").option(
            "compression", compression).parquet(
            os.path.join(out_dir, "docmap"))

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(_postings_job), ex.submit(_docmap_job)]
        for f in futs:
            f.result()
    if perms_bc is not None:
        perms_bc.unpersist()
    if sorted_docmap is not None:
        sorted_docmap.unpersist()
    _mark("postings_docmap_write", _t)

    # ---- term_stats / lineage / manifest ----------------------------------
    # both derive from the postings just written; independent -> overlap
    new_postings = spark.read.parquet(os.path.join(out_dir, "postings"))
    is_sent = F.col("term").startswith(FIELDNORM_SENTINEL)
    doc_sentinel = fieldnorm_sentinel(
        next(iter(field_cols)) if field_cols else None)

    def _term_stats_job():
        (new_postings.filter(~F.col("term").startswith(FIELDNORM_SENTINEL))
         .groupBy("term")
         .agg(F.sum("doc_freq").alias("doc_freq"),
              F.sum("total_tf").alias("total_tf"))
         .write.mode("overwrite").option("compression", compression)
         .parquet(os.path.join(out_dir, "term_stats")))

    def _lineage_job():
        (new_postings.groupBy("segment_ord").agg(
            F.sum(F.when(F.col("term") == doc_sentinel, F.col("doc_freq")))
            .alias("n_docs"),
            F.sum(F.when(is_sent, F.col("total_tf"))).alias("n_tokens"),
            F.sum(F.when(~is_sent, 1).otherwise(0)).alias("posting_rows"),
            F.sum(F.when(~is_sent, F.col("doc_freq"))).alias("postings"),
            (F.sum(F.octet_length("docs")) + F.sum(F.octet_length("tfs"))
             + F.sum(F.octet_length("fns"))
             + F.sum(F.coalesce(F.octet_length("pos"), F.lit(0))))
            .alias("bytes"),
        ).write.mode("overwrite").option("compression", compression)
         .parquet(os.path.join(out_dir, "lineage")))

    with ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(_term_stats_job), ex.submit(_lineage_job)]
        for f in futs:
            f.result()
    _mark("stats_writes", _t)

    new_manifest = dict(manifest)
    new_manifest["totals"] = {
        "num_docs": total_alive,
        "total_num_tokens": alive_tokens,
        "num_segments": n_out,
        "avg_fieldnorm": avg_fn,
    }
    if avg_by_field is not None:
        new_manifest["totals"]["fields"] = {
            r["term"].split(FIELD_SEP, 1)[1]: {
                "num_docs": total_alive,
                "total_num_tokens": int(r["t"]),
                "avg_fieldnorm": (int(r["t"]) / total_alive)
                if total_alive else 0.0,
            } for r in tok_rows}
    new_manifest["stages"] = dict(manifest.get("stages", {}),
                                  merge={"wall_sec": time.time() - t_start,
                                         "status": "done",
                                         "phases": phases})
    new_manifest["merged_from"] = {"index_dir": index_dir,
                                   "offsets": {str(k): v for k, v in offsets.items()},
                                   "out_seg": {str(k): v for k, v in out_seg.items()},
                                   "n_target_segments": n_target_segments}
    _write_manifest(os.path.join(out_dir, "meta.json"), new_manifest)
    return new_manifest
