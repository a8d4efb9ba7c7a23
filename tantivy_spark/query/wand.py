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

Distribution: posting rows for the query's terms (a parquet IN-filtered
scan) are shuffled once by segment; one kernel instance runs per segment
with its own threshold (per-partition thresholds; the driver-side final
merge keeps global exactness regardless of per-segment pruning).
Per-segment top-k outputs are tiny, so the final merge is a broadcast-size
orderBy/limit — the same partial/final shape as the reference's
per-segment collect + merge_fruits.
"""

from __future__ import annotations

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
            vint = bd == codec.VINT_MARKER
            d_sizes = np.where(vint, 0, (nd * bd + 7) // 8)
            t_sizes = np.where(vint, 0, (nd * bt + 7) // 8)
            d_off = np.zeros(nb, dtype=np.int64)
            t_off = np.zeros(nb, dtype=np.int64)
            f_off = np.zeros(nb, dtype=np.int64)
            d_off[1:] = np.cumsum(d_sizes)[:-1]
            t_off[1:] = np.cumsum(t_sizes)[:-1]
            f_off[1:] = np.cumsum(nd)[:-1]
            parts["starts"].append(starts)
            parts["ends"].append(last)
            parts["n_docs"].append(nd)
            parts["bits_d"].append(bd)
            parts["bits_t"].append(bt)
            parts["d_off"].append(d_off)
            parts["t_off"].append(t_off)
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
        bd, bt = int(self.bits_doc[b]), int(self.bits_tf[b])
        if bd == codec.VINT_MARKER:
            dm1 = codec.vint_decode(docs_buf[self.doc_off[b]:], nd)
            tm1 = codec.vint_decode(tfs_buf[self.tf_off[b]:], nd)
        else:
            dlen = (nd * bd + 7) // 8
            tlen = (nd * bt + 7) // 8
            dm1 = codec.bitunpack(docs_buf[self.doc_off[b]:self.doc_off[b] + dlen], bd, nd)
            tm1 = codec.bitunpack(tfs_buf[self.tf_off[b]:self.tf_off[b] + tlen], bt, nd)
        docs = np.cumsum(dm1.astype(np.int64) + 1) + (self.starts[b] - 1)
        tfs = tm1.astype(np.int64) + 1
        fns = np.frombuffer(fns_buf, dtype=np.uint8,
                            count=nd, offset=int(self.fn_off[b])).astype(np.int64)
        return docs, tfs, fns


def _segment_wand(terms_blocks: list[_TermBlocks], params: list[Bm25Params],
                  k: int, mode: str, deleted: np.ndarray | None = None,
                  seed: float = -np.inf, stats: dict | None = None):
    """Run the strip-pruned scorer for one segment.
    Returns (doc_ids int64, scores float32) of the segment's top-k
    (plus ties at the kth score).

    ``seed``: an externally-proven lower bound on the GLOBAL kth score
    (bm25.rs:184-186 semantics — threshold seeding across segments).  Any
    strip whose upper bound is strictly below it can never contribute to
    the global top-k, so pruning starts before k local candidates exist.
    ``stats``: optional dict collecting ``decoded_blocks`` /
    ``processed_strips`` for instrumentation."""
    T = len(terms_blocks)
    # ---- strip decomposition ------------------------------------------------
    edges = np.unique(np.concatenate(
        [tb.starts for tb in terms_blocks] + [tb.ends + 1 for tb in terms_blocks]))
    if len(edges) < 2:
        return np.zeros(0, np.int64), np.zeros(0, np.float32)
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
    threshold = float(seed)
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
        # the seed is already a proven global-kth lower bound, so pruning
        # applies even before k local candidates accumulate; a locally
        # computed threshold only applies once k candidates exist
        if ub[si] < threshold and (n_cand >= k or ub[si] < seed):
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
    if stats is not None:
        stats["decoded_blocks"] = stats.get("decoded_blocks", 0) + len(decoded)
        stats["processed_strips"] = stats.get("processed_strips", 0) + n_strips
    if not cand_docs:
        return np.zeros(0, np.int64), np.zeros(0, np.float32)
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
    return docs_all[ix], scores_all[ix]


MAX_BROADCAST_DELETES = 2_000_000


#: seeding prelude latency is only worth paying when pruning has real
#: work to skip; lists shorter than this many blocks decode in one strip
#: pass anyway, so seeding auto-skips below it.
MIN_SEED_BLOCKS = 32


def global_seed_threshold(reader: IndexReader, live_terms: list[str],
                          params_by_term: dict, k: int,
                          min_blocks: int = MIN_SEED_BLOCKS) -> float:
    """A PROVEN lower bound on the global kth score, computed before the
    per-segment kernels run (the reference seeds per-term thresholds from
    max_scores, bm25.rs:184-186; here we go one step further and realize
    k actual single-term scores).

    Method: among all (term, chunk, block) with >= k docs, pick the block
    with the highest block-max score; decode ONLY that block (a few KB)
    and take its kth-highest single-term score.  Those are k real docs
    whose total scores are >= their single-term scores (all BM25
    contributions are positive in a union), so the global kth total score
    is >= this value.  Only valid for mode="or" — in an intersection a
    high-scoring doc for one term may not match the others.

    The per-chunk argmax runs DISTRIBUTED (an Arrow kernel emits one row
    per chunk; the driver collects one aggregate row per term).  A hot
    term at 10^12 docs has millions of (chunk, block) metadata rows —
    collecting them, as this function once did, is a driver OOM.
    Seeding auto-skips (returns -inf) when the best term's posting list
    is under ``min_blocks`` blocks: pruning has nothing to save there,
    so the prelude job would be pure added latency.
    """
    meta = reader.postings_for_terms(live_terms).select(
        "term", "segment_ord", "chunk_id", "n_docs", "wand_fn", "wand_tf")
    pbt = params_by_term
    kk = int(k)

    def best_per_chunk(batches):
        for pdf in batches:
            out = {"term": [], "segment_ord": [], "chunk_id": [],
                   "block_idx": [], "bms": [], "n_blocks": []}
            for row in pdf.itertuples(index=False):
                if not len(row.n_docs):
                    continue
                nd = np.asarray(row.n_docs, dtype=np.int64)
                bms = pbt[row.term].score(
                    np.asarray(row.wand_fn, dtype=np.int64),
                    np.asarray(row.wand_tf, dtype=np.int64))
                eligible = np.nonzero(nd >= kk)[0]
                if len(eligible) == 0:
                    continue
                b = int(eligible[np.argmax(bms[eligible])])
                out["term"].append(row.term)
                out["segment_ord"].append(int(row.segment_ord))
                out["chunk_id"].append(int(row.chunk_id))
                out["block_idx"].append(b)
                out["bms"].append(float(bms[b]))
                out["n_blocks"].append(int(len(nd)))
            if out["term"]:
                yield pd.DataFrame(out)

    per_chunk = meta.mapInPandas(
        best_per_chunk,
        schema="term STRING, segment_ord INT, chunk_id INT, "
               "block_idx INT, bms DOUBLE, n_blocks BIGINT")
    # one row per query term reaches the driver: total blocks + the
    # argmax block location (struct max orders by bms first)
    per_term = (per_chunk.groupBy("term").agg(
        F.sum("n_blocks").alias("blocks"),
        F.max(F.struct("bms", "segment_ord", "chunk_id", "block_idx"))
        .alias("best")).collect())
    best = None  # (bms, blocks, term, segment_ord, chunk_id, block_idx)
    for row in per_term:
        cand = (float(row["best"]["bms"]), int(row["blocks"]), row["term"],
                int(row["best"]["segment_ord"]), int(row["best"]["chunk_id"]),
                int(row["best"]["block_idx"]))
        if best is None or cand[0] > best[0]:
            best = cand
    if best is None or best[1] < min_blocks:
        return float("-inf")
    _, _, term, seg, chunk, b = best
    rows = (reader.postings_for_terms([term])
            .filter((F.col("segment_ord") == seg) & (F.col("chunk_id") == chunk))
            .drop("pos").collect())
    if not rows:
        return float("-inf")
    tb = _TermBlocks(rows, params_by_term[term])
    _docs, tfs, fns = tb.decode_block(b)
    scores = params_by_term[term].score(fns, tfs)
    if len(scores) < k:
        return float("-inf")
    return float(np.partition(scores, -k)[-k])


def _wand_plan(reader: IndexReader, terms: list[str], k: int, mode: str,
               seed_threshold: bool, boosts: list[float] | None,
               min_seed_blocks: int = MIN_SEED_BLOCKS):
    """Shared prelude of wand_topk / wand_stats: live terms, per-term BM25
    params, delete bitsets, optional seed, and the segment-partitioned
    posting rows (None when no term matches)."""
    terms = list(terms)
    boost_of = dict(zip(terms, boosts)) if boosts is not None else {}
    deleted_by_seg: dict[int, np.ndarray] | None = None
    dels = reader.deletes
    if dels is not None:
        if dels.count() > MAX_BROADCAST_DELETES:
            raise ValueError(
                "too many deletes for in-kernel alive bitsets; compact the "
                "index (merge_segments) first")
        deleted_by_seg = {}
        for row in dels.collect():
            deleted_by_seg.setdefault(int(row["segment_ord"]), []).append(
                int(row["doc_id"]))
        deleted_by_seg = {s: np.sort(np.array(v, dtype=np.int64))
                          for s, v in deleted_by_seg.items()}
    dfs = reader.doc_freqs(terms)
    live_terms = [t for t in terms if dfs[t] > 0]
    if mode == "and" and len(live_terms) < len(terms):
        live_terms = []
    params_by_term = {
        # per-term average fieldnorm: the term's FIELD average on
        # multi-field indexes (matches the build kernel's per-field
        # block-max pair selection, so pruning stays exact)
        t: Bm25Params.for_one_term(dfs[t], reader.num_docs,
                                   reader.avg_fieldnorm_for_term(t),
                                   boost=float(boost_of.get(t, 1.0)))
        for t in live_terms
    }
    rows = None
    seed = float("-inf")
    if live_terms:
        if seed_threshold and mode == "or" and deleted_by_seg is None:
            seed = global_seed_threshold(reader, live_terms, params_by_term,
                                         k, min_blocks=min_seed_blocks)
        rows = reader.postings_for_terms(live_terms).drop("pos")
        if len(live_terms) > 1:
            # multi-term kernels need ALL of a segment's lists co-located
            # for document-at-a-time alignment
            rows = rows.repartition("segment_ord")
        # single term: every chunk row is independently top-k-able (the
        # score needs only global stats), so the kernel maps straight
        # over the scan partitions — NO shuffle, and parallelism is the
        # chunk count instead of the segment count (a 4-segment index on
        # 32 cores would otherwise run 4 tasks)
    return live_terms, params_by_term, deleted_by_seg, seed, rows


def _segment_kernel_fn(live_terms, params_by_term, k: int, mode: str,
                       deleted_by_seg, seed: float, emit_stats: bool):
    """mapInPandas kernel over segment-grouped posting rows.  Yields
    result rows (segment_ord, doc_id, score) or, with ``emit_stats``,
    one instrumentation row per segment (decoded_blocks,
    processed_strips) instead."""
    n_terms = len(live_terms)
    kk = int(k)
    md = mode

    def kernel(batches):
        if n_terms == 1:
            # single-term per-CHUNK path (no shuffle upstream): each
            # chunk row yields its own local top-k; the driver-side
            # k-row merge keeps results identical to the sequential walk
            t0 = live_terms[0]
            prm = params_by_term[t0]
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    seg = int(row.segment_ord)
                    dead = (deleted_by_seg or {}).get(seg)
                    stats: dict | None = {} if emit_stats else None
                    tb = _TermBlocks([row], prm)
                    d, s = _segment_wand([tb], [prm], kk, md,
                                         deleted=dead, seed=seed,
                                         stats=stats)
                    if emit_stats:
                        yield pd.DataFrame({
                            "segment_ord": [seg],
                            "decoded_blocks": [stats.get(
                                "decoded_blocks", 0)],
                            "processed_strips": [stats.get(
                                "processed_strips", 0)],
                            "total_blocks": [len(tb.starts)],
                        })
                    elif len(d):
                        yield pd.DataFrame({
                            "segment_ord": np.full(len(d), seg,
                                                   dtype=np.int32),
                            "doc_id": d.astype(np.int32),
                            "score": s,
                        })
            return
        # group rows per segment (repartition guarantees segment locality)
        by_seg: dict[int, dict[str, list]] = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                by_seg.setdefault(int(row.segment_ord), {}) \
                    .setdefault(row.term, []).append(row)
        for seg, per_term in by_seg.items():
            tbs, prms = [], []
            for t in live_terms:
                if t not in per_term:
                    if md == "and":
                        break
                    continue
                tbs.append(_TermBlocks(per_term[t], params_by_term[t]))
                prms.append(params_by_term[t])
            else:
                if md == "and" and len(tbs) != n_terms:
                    continue
                if not tbs:
                    continue
                dead = (deleted_by_seg or {}).get(seg)
                stats: dict | None = {} if emit_stats else None
                d, s = _segment_wand(tbs, prms, kk, md, deleted=dead,
                                     seed=seed, stats=stats)
                if emit_stats:
                    total_blocks = sum(len(tb.starts) for tb in tbs)
                    yield pd.DataFrame({
                        "segment_ord": [seg],
                        "decoded_blocks": [stats.get("decoded_blocks", 0)],
                        "processed_strips": [stats.get("processed_strips", 0)],
                        "total_blocks": [total_blocks],
                    })
                elif len(d):
                    yield pd.DataFrame({
                        "segment_ord": np.full(len(d), seg, dtype=np.int32),
                        "doc_id": d.astype(np.int32),
                        "score": s,
                    })

    return kernel


STATS_SCHEMA = ("segment_ord INT, decoded_blocks BIGINT, "
                "processed_strips BIGINT, total_blocks BIGINT")


def wand_stats(reader: IndexReader, terms: list[str], k: int = 10,
               mode: str = "or", seed_threshold: bool = False,
               boosts: list[float] | None = None,
               min_seed_blocks: int = MIN_SEED_BLOCKS) -> dict:
    """Run the WAND kernels in instrumentation mode and return the summed
    pruning counters: {"decoded_blocks", "processed_strips",
    "total_blocks", "seeded"} — the evidence behind any seeding claim
    (decoded blocks are what seeding saves; wall time on a loaded box is
    not trustworthy)."""
    live_terms, params_by_term, deleted_by_seg, seed, rows = _wand_plan(
        reader, terms, k, mode, seed_threshold, boosts, min_seed_blocks)
    if rows is None:
        return {"decoded_blocks": 0, "processed_strips": 0,
                "total_blocks": 0, "seeded": False}
    kernel = _segment_kernel_fn(live_terms, params_by_term, k, mode,
                                deleted_by_seg, seed, emit_stats=True)
    agg = rows.mapInPandas(kernel, schema=STATS_SCHEMA).agg(
        F.sum("decoded_blocks").alias("db"),
        F.sum("processed_strips").alias("ps"),
        F.sum("total_blocks").alias("tb")).collect()[0]
    return {"decoded_blocks": int(agg["db"] or 0),
            "processed_strips": int(agg["ps"] or 0),
            "total_blocks": int(agg["tb"] or 0),
            "seeded": seed != float("-inf")}


def wand_candidates(reader: IndexReader, terms: list[str], k: int = 10,
                    mode: str = "or", seed_threshold: bool = False,
                    boosts: list[float] | None = None,
                    min_seed_blocks: int = MIN_SEED_BLOCKS) -> DataFrame:
    """Each segment kernel's local top-k (segment_ord, doc_id, score)
    rows, the input of ``exact.top_k``; parameters as for wand_topk."""
    live_terms, params_by_term, deleted_by_seg, seed, rows = _wand_plan(
        reader, terms, k, mode, seed_threshold, boosts, min_seed_blocks)
    if rows is None:
        return reader.spark.createDataFrame([], schema=OUT_SCHEMA)
    kernel = _segment_kernel_fn(live_terms, params_by_term, k, mode,
                                deleted_by_seg, seed, emit_stats=False)
    return rows.mapInPandas(kernel, schema=OUT_SCHEMA)


def wand_topk(reader: IndexReader, terms: list[str], k: int = 10,
              mode: str = "or", seed_threshold: bool = False,
              boosts: list[float] | None = None,
              min_seed_blocks: int = MIN_SEED_BLOCKS) -> DataFrame:
    """Distributed BMW top-k for a pure term union ("or") or pure term
    intersection ("and").  Returns (rank, segment_ord, doc_id, score, key)
    with the reference tie-break; score is float32.

    Deletes: per-segment alive bitsets are shipped into the kernels (task
    broadcast) so dead docs never influence thresholds.  Indexes with more
    than MAX_BROADCAST_DELETES deleted docs should be compacted first
    (merge drops them) — callers get a ValueError rather than a silent
    driver-memory blowup.

    ``seed_threshold``: pre-compute a global kth lower bound from the
    best single block (global_seed_threshold, distributed argmax) and
    ship it to every segment kernel, so pruning starts immediately
    instead of after k local candidates.  Auto-skips on short lists
    (< MIN_SEED_BLOCKS) where the prelude cannot pay for itself.
    Results are identical either way (tests assert it).  "or" only;
    ignored for intersections (and when deletes exist — dead docs could
    occupy the seeding block's top-k).
    """
    rows = wand_candidates(reader, terms, k, mode, seed_threshold, boosts,
                           min_seed_blocks)
    return top_k(rows, [F.desc("score")], k, 0, HIT_COLS, reader.docmap)
