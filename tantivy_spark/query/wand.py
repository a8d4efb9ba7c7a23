"""Block-max WAND top-k: dynamic pruning over block metadata.

Reference semantics: Block-Max WAND (Ding & Suel), as implemented in
/root/reference/src/query/boolean_query/block_wand_union.rs (pivot loop,
block-max sums vs threshold, shallow block seeks) and
block_wand_intersection.rs.  The reference's loop is a per-doc sequential
iterator; a data-parallel engine wants a *vectorized* equivalent, so this
kernel re-derives BMW at block granularity:

1. doc-id space is partitioned into **strips** by the union of all query
   terms' block boundaries — every doc lies in exactly one strip, and
   within a strip each term is covered by at most one block;
2. each strip's score upper bound = sum (union) / gated sum (intersection)
   of the covering blocks' block-max scores (from the stored
   (wand_fieldnorm_id, wand_tf) pairs — serializer.rs:404-428 semantics);
3. strips are processed in descending upper bound; processing stops the
   moment the bound drops strictly below the current kth score
   (ties are still processed, so address tie-breaks stay exact);
4. only blocks touching an accepted strip are ever decoded (memoized).

The result is **identical** to the exhaustive scorer — pruning only
affects speed — which tests assert against both the exact DataFrame
oracle and the pure-numpy golden engine (f32 bit-equality).

Distribution: the kernel scores independent *units* of the posting rows
for the query's terms (a parquet IN-filtered scan), each with its own
threshold (the driver-side final merge keeps global exactness regardless
of per-unit pruning).  With one live term a unit is one chunk row and
the kernel maps straight over the scan; with several a unit is one
segment's rows, co-located by one shuffle on segment_ord.  Per-unit
top-k outputs are tiny, so the final merge is a broadcast-size
orderBy/limit — the same partial/final shape as the reference's
per-segment collect + merge_fruits.  No threshold is shared across
units: a global seed prelude was measured at 800k docs (WAND_DEPTH.json)
and never saved a decoded block, because each unit's own kth score
becomes tight within its first strips.

Counters: the query run itself adds its pruning work to Spark
accumulators (one set per SparkContext) — blocks decoded, strips
processed and blocks in the scanned lists.  :func:`counters` reads their running totals; diff a read taken
before ``wand_topk(...).collect()`` against one taken after.  The totals
are shared by every query on the context, and a retried task adds its
work again.
"""

from __future__ import annotations

import threading
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tantivy_spark.bm25 import Bm25Params
from tantivy_spark.index import codec
from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query.exact import HIT_COLS, top_k

OUT_SCHEMA = "segment_ord INT, doc_id INT, score FLOAT"


class _TermBlocks:
    """Flattened per-term block table across chunk rows (one segment)."""

    __slots__ = ("starts", "ends", "n_docs", "bits_doc", "bits_tf",
                 "doc_off", "tf_off", "fn_off", "docs_buf", "tfs_buf",
                 "fns_buf", "bms", "chunk_of", "chunk_bufs")

    def __init__(self, rows: list, params: Bm25Params):
        """Flatten chunk rows into block arrays — vectorized per chunk
        (a hot term has thousands of blocks per chunk; a per-block Python
        loop here would be measurable kernel-setup cost at scale)."""
        parts = {k: [] for k in ("starts", "ends", "n_docs", "bits_d",
                                 "bits_t", "d_off", "t_off", "f_off",
                                 "wand_fn", "wand_tf", "chunk_of")}
        self.chunk_bufs = []
        for ci, row in enumerate(sorted(rows, key=lambda r: r.chunk_id)):
            bufs = (bytes(row.docs), bytes(row.tfs), bytes(row.fns))
            self.chunk_bufs.append(bufs)
            last = np.asarray(row.last_docs, dtype=np.int64)
            nb = len(last)
            if nb == 0:
                continue
            nd = np.asarray(row.n_docs, dtype=np.int64)
            bd = np.asarray(row.bits_doc, dtype=np.int64)
            bt = np.asarray(row.bits_tf, dtype=np.int64)
            starts = np.empty(nb, dtype=np.int64)
            starts[0] = 0
            starts[1:] = last[:-1] + 1
            f_off = np.zeros(nb, dtype=np.int64)
            f_off[1:] = np.cumsum(nd)[:-1]
            parts["starts"].append(starts)
            parts["ends"].append(last)
            parts["n_docs"].append(nd)
            parts["bits_d"].append(bd)
            parts["bits_t"].append(bt)
            parts["d_off"].append(codec.block_offsets(nd, bd))
            parts["t_off"].append(codec.block_offsets(nd, bt))
            parts["f_off"].append(f_off)
            parts["wand_fn"].append(np.asarray(row.wand_fn, dtype=np.int64))
            parts["wand_tf"].append(np.asarray(row.wand_tf, dtype=np.int64))
            parts["chunk_of"].append(np.full(nb, ci, dtype=np.int64))

        def cat(key):
            return np.concatenate(parts[key]) if parts[key] \
                else np.zeros(0, dtype=np.int64)

        self.starts = cat("starts")
        self.ends = cat("ends")
        self.n_docs = cat("n_docs")
        self.bits_doc = cat("bits_d")
        self.bits_tf = cat("bits_t")
        self.doc_off = cat("d_off")
        self.tf_off = cat("t_off")
        self.fn_off = cat("f_off")
        self.chunk_of = cat("chunk_of")
        # block-max score from the stored (fieldnorm_id, capped tf) pair
        self.bms = params.score(cat("wand_fn"), cat("wand_tf"))

    def decode_block(self, b: int):
        """-> (doc_ids int64, scores f32-inputs (tf, fn)) for block b."""
        ci = int(self.chunk_of[b])
        docs_buf, tfs_buf, fns_buf = self.chunk_bufs[ci]
        nd = int(self.n_docs[b])
        docs, tfs = codec.decode_block(
            docs_buf, tfs_buf, int(self.doc_off[b]), int(self.tf_off[b]), nd,
            int(self.bits_doc[b]), int(self.bits_tf[b]),
            int(self.starts[b]) - 1)
        fns = np.frombuffer(fns_buf, dtype=np.uint8,
                            count=nd, offset=int(self.fn_off[b])).astype(np.int64)
        return docs, tfs, fns


def _segment_wand(terms_blocks: list[_TermBlocks], params: list[Bm25Params],
                  k: int, mode: str, deleted: np.ndarray | None = None):
    """Run the strip-pruned scorer for one segment.
    Returns (doc_ids int64, scores float32, decoded_blocks,
    processed_strips): the segment's top-k (plus ties at the kth score)
    and the pruning work it took."""
    T = len(terms_blocks)
    # ---- strip decomposition ------------------------------------------------
    edges = np.unique(np.concatenate(
        [tb.starts for tb in terms_blocks] + [tb.ends + 1 for tb in terms_blocks]))
    if len(edges) < 2:
        return np.zeros(0, np.int64), np.zeros(0, np.float32), 0, 0
    s_lo = edges[:-1]
    s_hi = edges[1:] - 1  # inclusive
    S = len(s_lo)
    ub = np.zeros(S, dtype=np.float64)
    cover = np.full((T, S), -1, dtype=np.int64)  # block idx covering strip, -1 none
    covered_cnt = np.zeros(S, dtype=np.int64)
    for ti, tb in enumerate(terms_blocks):
        bi = np.searchsorted(tb.ends, s_lo, side="left")
        valid = (bi < len(tb.starts))
        ok = valid.copy()
        ok[valid] &= tb.starts[bi[valid]] <= s_lo[valid]
        cover[ti, ok] = bi[ok]
        ub[ok] += tb.bms[bi[ok]].astype(np.float64)
        covered_cnt[ok] += 1
    if mode == "and":
        active = covered_cnt == T
    else:
        active = covered_cnt > 0
    ub[~active] = -1.0

    order = np.argsort(-ub, kind="stable")
    cand_docs: list[np.ndarray] = []
    cand_scores: list[np.ndarray] = []
    n_cand = 0
    threshold = -np.inf
    n_strips = 0
    decoded: dict[tuple[int, int], tuple] = {}

    def get_block(ti: int, b: int):
        key = (ti, b)
        if key not in decoded:
            decoded[key] = terms_blocks[ti].decode_block(b)
        return decoded[key]

    for si in order:
        if ub[si] < 0:
            break
        # the local kth score only bounds the result once k candidates exist
        if n_cand >= k and ub[si] < threshold:
            break
        n_strips += 1
        lo, hi = s_lo[si], s_hi[si]
        docs_parts, score_parts, ord_parts = [], [], []
        for ti in range(T):
            b = cover[ti, si]
            if b < 0:
                continue
            docs, tfs, fns = get_block(ti, int(b))
            a = np.searchsorted(docs, lo, side="left")
            z = np.searchsorted(docs, hi, side="right")
            if a == z:
                continue
            docs_parts.append(docs[a:z])
            score_parts.append(params[ti].score(fns[a:z], tfs[a:z]))
            ord_parts.append(np.full(z - a, ti, dtype=np.int64))
        if not docs_parts:
            continue
        d = np.concatenate(docs_parts)
        s = np.concatenate(score_parts)
        o = np.concatenate(ord_parts)
        # deterministic f32 sum order: (doc, term ordinal), matching the
        # clause-order summation of the exact scorer / golden engine
        ix = np.lexsort((o, d))
        d, s = d[ix], s[ix]
        change = np.empty(len(d), dtype=bool)
        change[0] = True
        change[1:] = d[1:] != d[:-1]
        starts = np.nonzero(change)[0]
        docs_u = d[starts]
        # strictly sequential f32 summation in clause order (reduceat/np.sum
        # use pairwise summation, whose rounding differs from the reference's
        # one-by-one accumulation): scatter each doc's contributions into
        # columns by arrival order, then fold columns left to right.
        gid = np.cumsum(change) - 1
        within = np.arange(len(d)) - starts[gid]
        mat = np.zeros((len(docs_u), T), dtype=np.float32)
        mat[gid, within] = s
        sums = np.zeros(len(docs_u), dtype=np.float32)
        for j in range(T):
            sums = sums + mat[:, j]
        if mode == "and":
            cnts = np.diff(np.append(starts, len(d)))
            keep = cnts == T
            docs_u, sums = docs_u[keep], sums[keep]
        if deleted is not None and len(docs_u):
            # alive filtering INSIDE the kernel: dead docs must not enter
            # the candidate pool, or they would raise the pruning
            # threshold / occupy top-k slots of live docs
            alive = ~np.isin(docs_u, deleted)
            docs_u, sums = docs_u[alive], sums[alive]
        if len(docs_u) == 0:
            continue
        cand_docs.append(docs_u)
        cand_scores.append(sums)
        n_cand += len(docs_u)
        if n_cand >= k:
            alls = np.concatenate(cand_scores)
            if len(alls) >= k:
                threshold = max(threshold,
                                float(np.partition(alls, -k)[-k]))
    if not cand_docs:
        return (np.zeros(0, np.int64), np.zeros(0, np.float32),
                len(decoded), n_strips)
    docs_all = np.concatenate(cand_docs)
    scores_all = np.concatenate(cand_scores).astype(np.float32)
    # top-k + ties, tie-break doc_id asc
    ix = np.lexsort((docs_all, -scores_all.astype(np.float64)))
    take = min(k, len(ix))
    # include everything tying the kth score so the global merge stays exact
    if take and take < len(ix):
        kth = scores_all[ix[take - 1]]
        while take < len(ix) and scores_all[ix[take]] == kth:
            take += 1
    ix = ix[:take]
    return docs_all[ix], scores_all[ix], len(decoded), n_strips


MAX_BROADCAST_DELETES = 2_000_000


#: the WAND pruning counters, summed over every kernel unit of the real
#: query run (see :func:`counters`)
COUNTERS = ("decoded_blocks", "processed_strips", "total_blocks")
_ACCUMULATORS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_ACCUMULATORS_LOCK = threading.Lock()


def _accumulators(spark) -> dict:
    """The context's counter accumulators, created on first use."""
    sc = spark.sparkContext
    with _ACCUMULATORS_LOCK:
        if sc not in _ACCUMULATORS:
            _ACCUMULATORS[sc] = {name: sc.accumulator(0)
                                 for name in COUNTERS}
        return _ACCUMULATORS[sc]


def counters(spark) -> dict:
    """Running totals of the WAND pruning counters on this SparkContext:
    {"decoded_blocks", "processed_strips", "total_blocks"}.
    Decoded blocks are what pruning saves; wall time on a
    loaded box is not trustworthy.  Diff two reads taken around a
    ``collect()`` for one query's work."""
    return {name: acc.value for name, acc in _accumulators(spark).items()}


def _segment_kernel_fn(live_terms, params_by_term, k: int, mode: str,
                       deleted_by_seg, accs: dict):
    """mapInPandas kernel: one ``_segment_wand`` run per independent
    unit, yielding its (segment_ord, doc_id, score) rows and adding its
    pruning work to ``accs``.

    A unit is one chunk row when the query has one live term: every
    chunk is independently top-k-able (the score needs only global
    stats), so the kernel maps straight over the scan partitions — NO
    shuffle, and parallelism is the chunk count instead of the segment
    count.  With several live terms a unit is one segment's rows, which
    the upstream repartition co-locates for document-at-a-time
    alignment."""
    kk = int(k)
    per_chunk = len(live_terms) == 1
    dead_by_seg = deleted_by_seg or {}

    def units(batches):
        if per_chunk:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    yield int(row.segment_ord), {row.term: [row]}
            return
        by_seg: dict[int, dict[str, list]] = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                by_seg.setdefault(int(row.segment_ord), {}) \
                    .setdefault(row.term, []).append(row)
        yield from by_seg.items()

    def kernel(batches):
        for seg, per_term in units(batches):
            present = [t for t in live_terms if t in per_term]
            if not present or (mode == "and"
                               and len(present) < len(live_terms)):
                continue
            prms = [params_by_term[t] for t in present]
            tbs = [_TermBlocks(per_term[t], p) for t, p in zip(present, prms)]
            d, s, n_decoded, n_strips = _segment_wand(
                tbs, prms, kk, mode, deleted=dead_by_seg.get(seg))
            accs["decoded_blocks"].add(n_decoded)
            accs["processed_strips"].add(n_strips)
            accs["total_blocks"].add(sum(len(tb.starts) for tb in tbs))
            if len(d):
                yield pd.DataFrame({
                    "segment_ord": np.full(len(d), seg, dtype=np.int32),
                    "doc_id": d.astype(np.int32),
                    "score": s,
                })

    return kernel


def wand_candidates(reader: IndexReader, terms: list[str], k: int = 10,
                    mode: str = "or",
                    boosts: list[float] | None = None) -> DataFrame:
    """Each kernel unit's local top-k (segment_ord, doc_id, score) rows,
    the input of ``exact.top_k``; parameters as for wand_topk."""
    terms = list(terms)
    boost_of = dict(zip(terms, boosts)) if boosts is not None else {}
    deleted_by_seg: dict[int, np.ndarray] | None = None
    dels = reader.deletes
    if dels is not None:
        # one bounded job: at most the cap plus one row reaches the driver
        dead = dels.limit(MAX_BROADCAST_DELETES + 1).toPandas()
        if len(dead) > MAX_BROADCAST_DELETES:
            raise ValueError(
                "too many deletes for in-kernel alive bitsets; compact the "
                "index (merge_segments) first")
        deleted_by_seg = {int(seg): np.sort(g["doc_id"].to_numpy(np.int64))
                          for seg, g in dead.groupby("segment_ord")}
    dfs = reader.doc_freqs(terms)
    live_terms = [t for t in terms if dfs[t] > 0]
    if not live_terms or (mode == "and" and len(live_terms) < len(terms)):
        return reader.spark.createDataFrame([], schema=OUT_SCHEMA)
    params_by_term = {
        # per-term average fieldnorm: the term's FIELD average on
        # multi-field indexes (matches the build kernel's per-field
        # block-max pair selection, so pruning stays exact)
        t: Bm25Params.for_one_term(dfs[t], reader.num_docs,
                                   reader.avg_fieldnorm_for_term(t),
                                   boost=float(boost_of.get(t, 1.0)))
        for t in live_terms
    }
    rows = reader.postings_for_terms(live_terms).drop("pos")
    if len(live_terms) > 1:
        # one unit per segment: co-locate each segment's lists
        rows = rows.repartition("segment_ord")
    kernel = _segment_kernel_fn(live_terms, params_by_term, k, mode,
                                deleted_by_seg, _accumulators(reader.spark))
    return rows.mapInPandas(kernel, schema=OUT_SCHEMA)


def wand_topk(reader: IndexReader, terms: list[str], k: int = 10,
              mode: str = "or",
              boosts: list[float] | None = None) -> DataFrame:
    """Distributed BMW top-k for a pure term union ("or") or pure term
    intersection ("and").  Returns (rank, segment_ord, doc_id, score, key)
    with the reference tie-break; score is float32.

    Deletes: per-segment alive bitsets are shipped into the kernels (task
    broadcast) so dead docs never influence thresholds.  Indexes with more
    than MAX_BROADCAST_DELETES deleted docs should be compacted first
    (merge drops them) — callers get a ValueError rather than a silent
    driver-memory blowup.
    """
    rows = wand_candidates(reader, terms, k, mode, boosts)
    return top_k(rows, [F.desc("score")], k, 0, HIT_COLS, reader.docmap)
