"""Scale probe: build + merge + WAND one order beyond the bench regime.

The per-round bench measures the 800k-doc shape; this probe runs the
SAME operators at 8M docs (>=1M-doc segments => posting lists in the
~10^6 range) and reports docs/sec so any superlinear term-dictionary,
shuffle, or codec cost shows up as a throughput drop vs the 800k row.

Measures, with per-trial arrays + loadavg (host-variance evidence):
- clean index build (trials, best-of) at ``n_segments``
- k-way segment merge n_segments -> max(2, n_segments // 4)
- WAND or/and wall + decoded-block skip ratios, identical-top-10
  asserted vs the exhaustive BooleanQuery scorer

Appends one entry per (n_docs, n_segments) shape to SCALE_PROBE.json.

Usage: python scripts/scale_probe.py [n_docs=8000000] [n_segments=8]
       [build_trials=2]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    n_segments = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    build_trials = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    os.makedirs("/dev/shm/spark_local", exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark_local")

    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.merge import merge_segments
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query import BooleanQuery, Occur, TermQuery, wand
    from tantivy_spark.query.exact import ExactSearcher
    from tantivy_spark.query.wand import wand_topk
    from tantivy_spark.session import get_spark, warmup_python_workers

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(f"scale_probe_{n_docs}", master=f"local[{cpus}]")
    warmup_python_workers(spark)

    result: dict = {
        "n_docs": n_docs, "n_segments": n_segments, "cpus": cpus,
        "load_before": [round(x, 2) for x in os.getloadavg()],
    }

    corpus_path = f"/dev/shm/tantivy_bench_corpus_{n_docs}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        t0 = time.time()
        synthetic_pages(spark, n_docs).repartition(256) \
            .write.mode("overwrite").parquet(corpus_path)
        result["corpus_gen_sec"] = round(time.time() - t0, 1)
    docs = spark.read.parquet(corpus_path).select("url", "text")
    docs.count()  # warm the input read before timing the build

    out_idx = f"/dev/shm/tantivy_scale_idx_{n_docs}_s{n_segments}"
    # n_segments=0 -> MEMORY-BUDGETED auto sizing (IndexConfig
    # n_segments=None; resolve_n_segments derives the count from corpus
    # stats so the default config cannot be OOM-killed at any size)
    cfg = IndexConfig(key_col="url", text_col="text",
                      n_segments=(n_segments if n_segments > 0 else None))
    if n_segments == 0:
        from tantivy_spark.index.build import resolve_n_segments
        n_segments = resolve_n_segments(spark, docs, cfg).n_segments
        result["n_segments"] = n_segments
        result["auto_sized"] = True

    def timed(fn, trials):
        arr = []
        for _ in range(trials):
            t = time.time()
            fn()
            arr.append(round(time.time() - t, 2))
        return arr

    def build_once():
        shutil.rmtree(out_idx, ignore_errors=True)
        build_index(spark, docs, out_idx, cfg, resume=False)

    b = timed(build_once, build_trials)
    result["build_sec_trials"] = b
    result["build_sec"] = min(b)
    result["build_docs_per_sec"] = round(n_docs / min(b), 1)

    n_target = max(2, n_segments // 4)
    out_m = out_idx + "_merged"

    def merge_once():
        shutil.rmtree(out_m, ignore_errors=True)
        merge_segments(spark, out_idx, out_m, n_target_segments=n_target)

    m = timed(merge_once, 1)
    result["merge_sec_trials"] = m
    result["merge_sec"] = min(m)
    result["merge_docs_per_sec"] = round(n_docs / min(m), 1)
    result["merge_n_target_segments"] = n_target

    reader = IndexReader(spark, out_idx)
    terms = ["the", "of"]
    for mode in ("or", "and"):
        tw, rows_w = None, None
        for _ in range(3):
            before = wand.counters(spark)
            t = time.time()
            rows_w = wand_topk(reader, terms, k=10, mode=mode).collect()
            dt = time.time() - t
            after = wand.counters(spark)
            stats = {n: after[n] - before[n] for n in after}
            tw = dt if tw is None or dt < tw else tw
        occur = Occur.SHOULD if mode == "or" else Occur.MUST
        q = BooleanQuery([(occur, TermQuery(t)) for t in terms])
        te, rows_e = None, None
        for _ in range(3):
            t = time.time()
            rows_e = ExactSearcher(reader).search(q, k=10).collect()
            dt = time.time() - t
            te = dt if te is None or dt < te else te
        ident = ([(r["segment_ord"], r["doc_id"]) for r in rows_w]
                 == [(r["segment_ord"], r["doc_id"]) for r in rows_e])
        result[f"wand_{mode}"] = {
            "wall_sec": round(tw, 3),
            "exhaustive_wall_sec": round(te, 3),
            "decoded_blocks": stats["decoded_blocks"],
            "total_blocks": stats["total_blocks"],
            "skip_rate_pct": round(
                100.0 * (1 - stats["decoded_blocks"]
                         / max(1, stats["total_blocks"])), 1),
            "identical_top10": ident,
        }

    result["load_after"] = [round(x, 2) for x in os.getloadavg()]
    shutil.rmtree(out_m, ignore_errors=True)

    path = os.path.join(REPO, "SCALE_PROBE.json")
    shapes = []
    if os.path.exists(path):
        try:
            with open(path) as fh:
                shapes = json.load(fh).get("shapes", [])
        except (json.JSONDecodeError, OSError):
            shapes = []
    shapes = [s for s in shapes
              if s.get("n_docs") != n_docs
              or s.get("n_segments") != n_segments] + [result]
    with open(path, "w") as fh:
        json.dump({"shapes": shapes}, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
