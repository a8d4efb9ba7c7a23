"""Per-layer measurements for the traced run.

Two kinds:

- in-process rates of the pure-Python layers (analyzer, posting codec,
  query parser), timed on fixed samples of the run's own data;
- span summaries: the traced calls a workload made, reduced to the
  per-layer metric names of ``BENCHMARK.json``.

``probe_read`` exercises read-path layers a workload does not reach on
its own, so every traced run reports every per-layer metric.  Spans from
a probe carry ``source="probe"`` in the span file.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

#: minimum time each in-process rate is measured for
MICRO_S = 0.3


def _timed_rate(fn, units: int) -> float:
    """units/s of fn(), repeated for at least MICRO_S; median of reps."""
    rates, t_end = [], time.perf_counter() + MICRO_S
    while time.perf_counter() < t_end or len(rates) < 3:
        t0 = time.perf_counter()
        fn()
        rates.append(units / (time.perf_counter() - t0))
    return statistics.median(rates)


# ------------------------------------------------------------ in-process
def analyzer_tokens_per_s(texts) -> float:
    from tantivy_spark.analyzer import tokenize_with_positions_series

    n_tokens = int(tokenize_with_positions_series(texts).map(len).sum())
    return _timed_rate(lambda: tokenize_with_positions_series(texts), n_tokens)


def posting_rows(index_dir: str, terms: list[str]) -> list[dict]:
    """Stored posting rows of ``terms`` (pyarrow read, no Spark job)."""
    import pyarrow.dataset as ds

    cols = ["term", "doc_freq", "docs", "tfs", "fns", "last_docs", "n_docs",
            "bits_doc", "bits_tf", "wand_fn", "wand_tf"]
    d = ds.dataset(os.path.join(index_dir, "postings"), format="parquet",
                   partitioning="hive")
    return d.to_table(columns=cols,
                      filter=ds.field("term").isin(terms)).to_pylist()


def codec_rates(rows: list[dict]) -> tuple[float, float, int]:
    """(encode postings/s, decode postings/s, round-trip mismatches) over
    the stored posting rows: decode each row, re-encode it, and compare
    the bytes with what the build wrote."""
    from tantivy_spark.index import codec

    metas = [list(zip(r["last_docs"], r["n_docs"], r["bits_doc"], r["bits_tf"],
                      r["wand_fn"], r["wand_tf"])) for r in rows]
    decoded = [codec.decode_postings(r["docs"], r["tfs"], m)
               for r, m in zip(rows, metas)]
    fns = [codec.decode_fns(r["fns"]) for r in rows]
    n = sum(len(d) for d, _ in decoded)
    mismatches = 0
    for r, (d, t), f in zip(rows, decoded, fns):
        docs_b, tfs_b, _fns_b, _meta = codec.encode_postings(d, t, f)
        mismatches += (docs_b != r["docs"]) or (tfs_b != r["tfs"])

    def dec():
        for r, m in zip(rows, metas):
            codec.decode_postings(r["docs"], r["tfs"], m)

    def enc():
        for (d, t), f in zip(decoded, fns):
            codec.encode_postings(d, t, f)

    return _timed_rate(enc, n), _timed_rate(dec, n), mismatches


def parser_parse_us(queries: list[str]) -> float:
    from tantivy_spark.query.parser import QueryParser

    parser = QueryParser()
    rate = _timed_rate(lambda: [parser.parse(q) for q in queries], len(queries))
    return 1e6 / rate


def lineage_totals(index_dir: str) -> dict:
    """Sum of the build's lineage table (posting rows, posting bytes)."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(index_dir, "lineage", "**", "*.parquet"),
                      recursive=True)
    t = pq.ParquetDataset(files).read(columns=["posting_rows", "bytes"])
    return {"posting_rows": int(t["posting_rows"].to_numpy().sum()),
            "bytes": int(t["bytes"].to_numpy().sum())}


def index_bytes(reader) -> dict:
    tables = reader.space_usage()["tables"]
    return {f"index.bytes.{k}": tables[k]["bytes"]
            for k in ("postings", "docmap", "term_stats")}


# ------------------------------------------------------- span summaries
def span_median(spans: list[dict], key: str) -> float:
    return statistics.median(s[key] for s in spans)


def build_metrics(span: dict, manifest: dict, index_dir: str) -> dict:
    st = manifest["stages"]
    lin = lineage_totals(index_dir)
    return {
        **{f"build.{k}_s": st[k]["wall_sec"]
           for k in ("docmap", "postings", "term_stats", "lineage")},
        "build.jobs": span["jobs"],
        "build.executor_cpu_ms": span["executor_cpu_ms"],
        "build.shuffle_write_bytes": span["shuffle_write_bytes"],
        "build.posting_rows": lin["posting_rows"],
        "build.postings_bytes": lin["bytes"],
    }


def merge_metrics(span: dict, manifest: dict) -> dict:
    ph = manifest["stages"]["merge"]["phases"]
    return {
        **{f"merge.{k}_s": ph[k]
           for k in ("plan_stats", "postings_docmap_write", "stats_writes")},
        "merge.jobs": span["jobs"],
        "merge.shuffle_write_bytes": span["shuffle_write_bytes"],
    }


def shape_family(shape: str) -> str:
    """term_head / term_tail report as one ``term`` family."""
    return "term" if shape.startswith("term") else shape


def searcher_metrics(spans: list[dict]) -> dict:
    """searcher.<family>_ms: median wall per query family."""
    out = {}
    for fam in ("term", "or", "and", "phrase", "bool_not", "count"):
        ss = [s for s in spans
              if s["name"] == "searcher" and shape_family(s["shape"]) == fam]
        if ss:
            out[f"searcher.{fam}_ms"] = span_median(ss, "wall_ms")
    return out


def light_terms(q: str) -> tuple[str, list[str]]:
    """(WAND mode, terms) of a light query string from inputs.py."""
    return ("and" if q.startswith("+") else "or"), q.replace("+", "").split()


# ---------------------------------------------------------------- probes
def probe_read(tracer, reader, light: list[tuple[str, str]],
               heavy: list[tuple[str, str]],
               searcher_ops: list[tuple[str, str]], source: str) -> dict:
    """reader.*, wand.* and exact.* over one reader: ``light`` queries go
    to wand_topk, ``heavy`` ones to ExactSearcher.search.  ``searcher_ops``
    (shape, query) run through Searcher for the shapes the workload did
    not trace itself."""
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query.exact import ExactSearcher
    from tantivy_spark.query.parser import QueryParser
    from tantivy_spark.query.searcher import Searcher
    from tantivy_spark.query.wand import wand_topk

    opens, dfs, wands, exacts = [], [], [], []
    for _shape, q in light:
        with tracer.span("reader.open", source=source) as sp:
            r = IndexReader(reader.spark, reader.index_dir)
        opens.append(sp.record)
        mode, terms = light_terms(q)
        with tracer.span("reader.doc_freqs", source=source) as sp:
            r.doc_freqs(terms)
        dfs.append(sp.record)
        with tracer.span("wand.topk", source=source, query=q) as sp:
            wand_topk(r, terms, k=10, mode=mode).collect()
        wands.append(sp.record)
    parser = QueryParser()
    exact = ExactSearcher(reader)
    for _shape, q in heavy:
        with tracer.span("exact.search", source=source, query=q) as sp:
            exact.search(parser.parse(q), k=10).collect()
        exacts.append(sp.record)
    searcher = Searcher(reader)
    for shape, q in searcher_ops:
        with tracer.span("searcher", source=source, shape=shape, query=q):
            run_op(searcher, shape, q)
    return {
        "reader.open_ms": span_median(opens, "wall_ms"),
        "reader.doc_freqs_ms": span_median(dfs, "wall_ms"),
        "reader.doc_freqs_jobs": span_median(dfs, "jobs"),
        "wand.topk_ms": span_median(wands, "wall_ms"),
        **{f"wand.{k}": span_median(wands, k)
           for k in ("jobs", "stages", "driver_only_ms", "executor_cpu_ms")},
        "exact.search_ms": span_median(exacts, "wall_ms"),
        **{f"exact.{k}": span_median(exacts, k)
           for k in ("jobs", "stages", "shuffle_write_bytes",
                     "executor_cpu_ms")},
    }


def run_op(searcher, shape: str, q: str):
    """One client operation: a count for the count shape, else a top-10
    collected to the driver."""
    if shape == "count":
        return searcher.count(q)
    return searcher.search(q, k=10).collect()
