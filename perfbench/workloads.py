"""The workloads.  Each is one closed-loop client in one process:
an operation is issued only after the previous one returned.

Each workload returns ``(e2e, layers)``: end-to-end metrics, and (in a
traced run) per-layer metrics.  A traced run traces every build and merge
and every second query round; query metrics come from the untraced
rounds, and the difference between the traced and the untraced rounds is
the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import inputs, layers
from perfbench.oracle_check import Oracle

BUILD_DOCS = 20_000         # build-merge corpus
BUILD_SEGMENTS = 8
WARM_DOCS = BUILD_DOCS // 4  # build-merge's discarded warm build
MERGED_SEGMENTS = 2

SEARCH_DOCS = 10_000        # search corpus
SEARCH_SEGMENTS = 4         # segment_expr pmod(doc_id, 4): oracle DocAddresses

PROBE_SLICE = 1_000         # docs per commit of the traced writer probe
RECRAWL_SHARE = 0.01        # committed keys deleted and re-added per commit

#: |engine score - oracle score rounded to 4 places| allowed: the
#: rounding itself plus float32 WAND scores
SCORE_TOL = 5e-5 + 1e-6


@dataclass
class Ctx:
    spark: object
    tracer: object
    rss: object
    seed: int
    seconds: float
    work: str
    trace: bool
    setup: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"FAILED: {what}", file=sys.stderr)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup_s(self) -> float:
        return sum(self.setup.values())


def _now() -> float:
    return time.perf_counter()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _materialize_corpus(ctx: Ctx, n_docs: int) -> str:
    """Write the seeded corpus to parquet (set-up) and return its path."""
    t0 = _now()
    out = ctx.path("corpus")
    inputs.corpus(ctx.spark, n_docs, ctx.seed).write.mode("overwrite") \
        .parquet(out)
    ctx.setup["corpus_s"] = _now() - t0
    return out


def _text_bytes(corpus_dir: str) -> int:
    """UTF-8 bytes of the corpus text (pyarrow read, no Spark job)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    text = pq.read_table(corpus_dir, columns=["text"]).column("text")
    return int(pc.sum(pc.binary_length(text)).as_py())


def _doc_freqs(index_dir: str) -> dict[str, int]:
    """{term: doc_freq summed over segments} from the index's term_stats
    table (pyarrow read, no Spark job)."""
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(index_dir, "term_stats"), format="parquet",
                   partitioning="hive").to_table(columns=["term", "doc_freq"])
    t = t.group_by("term").aggregate([("doc_freq", "sum")])
    return dict(zip(t["term"].to_pylist(), t["doc_freq_sum"].to_pylist()))


def _room_for_one_more(t_start: float, done: int, seconds: float) -> bool:
    """True if one more step, at the mean pace of the ``done`` so far,
    would end within ``seconds`` of ``t_start``."""
    return done > 0 and (_now() - t_start) * (done + 1) / done <= seconds


def _p(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _micro_layers(ctx: Ctx, corpus_dir: str, index_dir: str) -> dict:
    """analyzer, codec and parser rates on this run's own data."""
    import pyarrow.parquet as pq

    texts = pq.read_table(corpus_dir, columns=["text"]).slice(0, 2000) \
        .column("text").to_pandas()
    rows = layers.posting_rows(index_dir, inputs.HEAD[:4] + inputs.TAIL[:4])
    enc, dec, mismatches = layers.codec_rates(rows)
    ctx.op(mismatches == 0, f"codec round trip: {mismatches} rows differ")
    queries = [q for _shape, q in _take(inputs.search_stream(ctx.seed), 64)]
    return {"analyzer.tokens_per_s": layers.analyzer_tokens_per_s(texts),
            "codec.encode_postings_per_s": enc,
            "codec.decode_postings_per_s": dec,
            "parser.parse_us": layers.parser_parse_us(queries)}


def _commit(ctx: Ctx, writer, adds, delete_keys: list[str]) -> tuple[float, float]:
    """One writer commit: buffered key deletes, then the adds.  Returns
    (commit wall s, the batch's own ingest wall s from the manifest)."""
    if delete_keys:
        writer.delete_by_keys(delete_keys)
    writer.add_documents(adds)
    with ctx.tracer.span("commit") as sp:
        stamp = writer.commit()
    batch = writer.reader().manifest["batches"][str(stamp)]
    return sp.wall_s, float(batch["wall_sec"])


def _probe_ingest(ctx: Ctx, df) -> dict:
    """ingest.* and deletes.* from a fresh writer: one commit of a slice,
    then one commit of the next slice that re-crawls 1% of the first."""
    from pyspark.sql import functions as F

    from tantivy_spark.index.writer import IndexWriter

    n = PROBE_SLICE
    writer = IndexWriter(ctx.spark, _fresh(ctx.path("probe-writer")))
    ctx.tracer.enabled = True
    _commit(ctx, writer, df.filter(F.col("doc_id") < n), [])
    ids = inputs.recrawl_ids(ctx.seed, n, RECRAWL_SHARE)
    recrawl = df.filter(F.col("doc_id").isin(ids))
    keys = [r["url"] for r in recrawl.select("url").collect()]
    fresh = df.filter((F.col("doc_id") >= n) & (F.col("doc_id") < 2 * n))
    wall, batch = _commit(ctx, writer, fresh.unionByName(recrawl), keys)
    ctx.tracer.enabled = False
    reader = writer.reader()
    return {"ingest.batch_s": batch,
            "deletes.apply_ms": 1e3 * (wall - batch),
            "ingest.segments": reader.manifest["totals"]["num_segments"],
            "deletes.deleted_docs": reader.deletes.count()}


def _split_light_heavy(ops: list[tuple[str, str]]):
    light = [(s, q) for s, q in ops if s in inputs.LIGHT_SHAPES]
    heavy = [(s, q) for s, q in ops if s not in inputs.LIGHT_SHAPES]
    return light, heavy


def _one_per_family(shapes: set[str]) -> list[tuple[str, str]]:
    """(shape, query) with one query for each family in ``shapes``."""
    out, seen = [], set()
    for shape, q in _take(inputs.search_stream(0x5EED), 16):
        fam = layers.shape_family(shape)
        if fam in shapes and fam not in seen:
            seen.add(fam)
            out.append((shape, q))
    return out


def _take(stream, n: int) -> list:
    return [next(stream) for _ in range(n)]


# ---------------------------------------------------------- query rounds
def _warm_queries(ctx: Ctx, searcher) -> list[tuple[str, str, object]]:
    """One discarded query on a new index, charged to set-up: a count,
    which opens the reader and runs the exact path, from a stream the
    measured one does not use.  Returns [(shape, query, result)] for
    checking."""
    ops = _take(inputs.search_stream(ctx.seed + 1), 3 * inputs.ROUND)
    t0 = _now()
    out = [(shape, q, layers.run_op(searcher, shape, q))
           for shape, q in ops if shape == "count"]
    ctx.setup["warm_queries_s"] = _now() - t0
    return out


def _query_rounds(ctx: Ctx, searcher, stream, min_rounds: int,
                  seconds: float) -> tuple[list, float]:
    """Closed-loop rounds of the search stream, at least ``min_rounds``,
    then more while another round fits in ``seconds``.  In a traced run
    every second round is traced.  Returns ([(shape, query, result, wall
    s, traced)], loop s)."""
    if ctx.trace:
        min_rounds = max(min_rounds, 2)   # one traced, one untraced
    done = []
    t_loop, rnd = _now(), 0
    while rnd < min_rounds or _room_for_one_more(t_loop, rnd, seconds):
        traced = ctx.trace and rnd % 2 == 1
        ctx.tracer.enabled = traced
        for shape, q in _take(stream, inputs.ROUND):
            try:
                with ctx.tracer.span("searcher", shape=shape, query=q) as sp:
                    res = layers.run_op(searcher, shape, q)
            except Exception:
                traceback.print_exc()
                ctx.op(False, f"query {q!r} raised")
                continue
            done.append((shape, q, res, sp.wall_s, traced))
        ctx.tracer.enabled = False
        rnd += 1
    return done, _now() - t_loop


def _query_metrics(done: list, loop_s: float) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metrics of the query rounds.  p90 and the
    rate are per-layer: a run has too few heavy queries for a steady p90,
    and the rate is the inverse of the mean latency."""
    lat = [d[3] * 1e3 for d in done if not d[4]]
    return ({"query_p50_ms": _p(lat, 50)},
            {"searcher.p90_ms": _p(lat, 90),
             "searcher.queries_per_s": len(done) / loop_s})


def _query_overhead_ms(done: list) -> float:
    """Tracing overhead: median traced query wall - median untraced one
    (the rounds alternate, so both sides see the same query mix)."""
    med = {t: statistics.median(d[3] for d in done if d[4] == t)
           for t in (True, False)}
    return 1e3 * (med[True] - med[False])


def _read_probe(ctx: Ctx, reader, have: dict) -> dict:
    """Read-path layers over ``reader``; searcher shapes only for the
    families not in ``have``."""
    light, heavy = _split_light_heavy(_take(inputs.search_stream(ctx.seed + 1),
                                            inputs.ROUND))
    missing = {f for f in ("term", "or", "and", "phrase", "bool_not", "count")
               if f"searcher.{f}_ms" not in have}
    ctx.tracer.enabled = True
    out = layers.probe_read(ctx.tracer, reader, light[:1], heavy,
                            _one_per_family(missing), source="probe")
    ctx.tracer.enabled = False
    return {**out, **layers.searcher_metrics(ctx.tracer.spans)}


# ------------------------------------------------------------ build-merge
def build_merge(ctx: Ctx):
    """build_index over the corpus at a fixed segment count, repeated for
    half the run's time after a discarded warm build; then merge_segments
    of the last build down to a few segments, and query rounds over the
    merged index for the other half."""
    from pyspark.sql import functions as F

    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.merge import merge_segments
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query.searcher import Searcher

    spark = ctx.spark
    corpus_dir = _materialize_corpus(ctx, BUILD_DOCS)
    df = spark.read.parquet(corpus_dir)
    cfg = IndexConfig(n_segments=BUILD_SEGMENTS)
    bdir, mdir = ctx.path("build"), ctx.path("merged")

    def build(docs, n_docs):
        with ctx.tracer.span("build") as sb:
            manifest = build_index(spark, docs, _fresh(bdir), cfg, resume=False)
        ctx.op(manifest["totals"]["num_docs"] == n_docs,
               f"build num_docs {manifest['totals']['num_docs']} != {n_docs}")
        return sb, manifest

    # set-up: the first build of a session pays for JIT compilation and
    # worker imports, so a build of a slice of the corpus is discarded
    t0 = _now()
    build(df.filter(F.col("doc_id") < WARM_DOCS), WARM_DOCS)
    ctx.setup["warm_s"] = _now() - t0

    builds = []
    ctx.tracer.enabled = ctx.trace
    t_loop = _now()
    while len(builds) < 2 or _room_for_one_more(t_loop, len(builds),
                                                 ctx.seconds / 2):
        os.sync()   # no write-back of the previous step inside this one
        sb, manifest = build(df, BUILD_DOCS)
        builds.append(sb.wall_s)
    with ctx.tracer.span("merge") as sm:
        merged = merge_segments(spark, bdir, _fresh(mdir),
                                n_target_segments=MERGED_SEGMENTS)
    ctx.tracer.enabled = False
    bt, mt = manifest["totals"], merged["totals"]
    ctx.op(mt["num_docs"] == BUILD_DOCS
           and mt["total_num_tokens"] == bt["total_num_tokens"]
           and mt["num_segments"] == MERGED_SEGMENTS,
           f"merge totals {mt} vs build {bt}")
    # the merged index keeps the built one's statistics ...
    ctx.op(_doc_freqs(bdir) == _doc_freqs(mdir),
           "doc_freqs differ between the built and the merged index")
    built, merged_r = IndexReader(spark, bdir), IndexReader(spark, mdir)
    # ... and answers queries: read-back rounds, checked for well-formed
    # top-k (the DocAddress-exact oracle check is the search workload's).
    # No discarded warm query: the first query's extra cost moves one of
    # at least twelve latencies, which the median does not follow.
    searcher = Searcher(merged_r)
    os.sync()
    done, loop_s = _query_rounds(ctx, searcher, inputs.search_stream(ctx.seed),
                                 3, ctx.seconds / 2)
    for shape, q, res, _lat, _tr in done:
        ctx.op(_well_formed(shape, res, BUILD_DOCS),
               f"read-back {q!r} returned a malformed answer")
    q_e2e, q_layers = _query_metrics(done, loop_s)
    e2e = {"build_docs_per_s": BUILD_DOCS / statistics.median(builds),
           "index_bytes_per_text_byte":
               built.space_usage()["total_bytes"] / _text_bytes(corpus_dir),
           **q_e2e}
    if not ctx.trace:
        return e2e, {}
    out = {**layers.build_metrics(sb.record, manifest, bdir),
           **layers.merge_metrics(sm.record, merged),
           "merge.docs_per_s": BUILD_DOCS / sm.wall_s,
           **layers.index_bytes(built),
           **_micro_layers(ctx, corpus_dir, bdir),
           **q_layers,
           "trace.overhead_ms": _query_overhead_ms(done)}
    out.update(_read_probe(ctx, merged_r,
                           layers.searcher_metrics(ctx.tracer.spans)))
    out.update(_probe_ingest(ctx, df))
    return e2e, out


def _well_formed(shape: str, res, n_docs: int) -> bool:
    if shape == "count":
        return 0 <= res <= n_docs
    keys = [r["key"] for r in res]
    scores = [r["score"] for r in res]
    return (len(keys) <= 10 and len(set(keys)) == len(keys)
            and [int(r["rank"]) for r in res] == list(range(1, len(res) + 1))
            and scores == sorted(scores, reverse=True))


# ----------------------------------------------------------------- search
def search(ctx: Ctx):
    """A query stream through Searcher.search / count over an index built
    in set-up; every answer is checked against the DuckDB oracle.  The
    set-up build gives build_docs_per_s.  A traced run also merges the
    index after the stream, for the merge layer."""
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.merge import merge_segments
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query.parser import QueryParser
    from tantivy_spark.query.searcher import Searcher

    spark = ctx.spark
    corpus_dir = _materialize_corpus(ctx, SEARCH_DOCS)
    df = spark.read.parquet(corpus_dir)
    idx = ctx.path("index")
    cfg = IndexConfig(n_segments=SEARCH_SEGMENTS,
                      segment_expr=f"pmod(doc_id, {SEARCH_SEGMENTS})")

    ctx.tracer.enabled = ctx.trace
    with ctx.tracer.span("build") as sb:
        manifest = build_index(spark, df, _fresh(idx), cfg, resume=False)
    ctx.tracer.enabled = False
    ctx.setup["index_s"] = sb.wall_s
    ctx.op(manifest["totals"]["num_docs"] == SEARCH_DOCS,
           f"build num_docs {manifest['totals']['num_docs']} != {SEARCH_DOCS}")
    searcher = Searcher(IndexReader(spark, idx))
    warm = _warm_queries(ctx, searcher)

    done, loop_s = _query_rounds(ctx, searcher, inputs.search_stream(ctx.seed),
                                 3, ctx.seconds)

    ctx.rss.stop()   # the oracle's DuckDB tables live in this process
    oracle = Oracle(corpus_dir, SEARCH_SEGMENTS)
    parser = QueryParser()
    for shape, q, res in warm + [d[:3] for d in done]:
        ast = parser.parse(q)
        if shape == "count":
            want = oracle.count(ast)
            ctx.op(res == want, f"count {q!r}: {res} != oracle {want}")
        else:
            ctx.op(_same_topk(res, oracle.topk(ast, 10)),
                   f"top-10 {q!r} differs from the oracle")
    oracle.close()

    q_e2e, q_layers = _query_metrics(done, loop_s)
    e2e = {"build_docs_per_s": SEARCH_DOCS / sb.wall_s,
           "index_bytes_per_text_byte":
               searcher.reader.space_usage()["total_bytes"]
               / _text_bytes(corpus_dir),
           **q_e2e}
    if not ctx.trace:
        return e2e, {}
    ctx.tracer.enabled = True
    with ctx.tracer.span("merge") as sm:
        merged = merge_segments(spark, idx, _fresh(ctx.path("merged")),
                                n_target_segments=MERGED_SEGMENTS)
    ctx.tracer.enabled = False
    ctx.op(merged["totals"]["num_docs"] == SEARCH_DOCS,
           f"merge num_docs {merged['totals']['num_docs']} != {SEARCH_DOCS}")
    out = {**layers.searcher_metrics(ctx.tracer.spans),
           **layers.build_metrics(sb.record, manifest, idx),
           **layers.merge_metrics(sm.record, merged),
           "merge.docs_per_s": SEARCH_DOCS / sm.wall_s,
           **layers.index_bytes(searcher.reader),
           **_micro_layers(ctx, corpus_dir, idx),
           **q_layers,
           "trace.overhead_ms": _query_overhead_ms(done)}
    out.update(_read_probe(ctx, searcher.reader, out))
    out.update(_probe_ingest(ctx, df))
    return e2e, out


def _same_topk(rows, want: list[tuple[int, int, float]]) -> bool:
    got = [(int(r["rank"]), int(r["key"].rsplit("/", 1)[1]), float(r["score"]))
           for r in rows]
    return len(got) == len(want) and all(
        gr == wr and gd == wd and abs(gs - ws) <= SCORE_TOL
        for (gr, gd, gs), (wr, wd, ws) in zip(got, want))


WORKLOADS = {"build-merge": build_merge, "search": search}
