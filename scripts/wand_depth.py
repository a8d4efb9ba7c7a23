"""WAND-at-depth evidence: block-skipping measured where posting lists
are LONG (few segments => hundreds of thousands of postings per
per-segment list), the regime the BMW paper targets and the shape
BASELINE.md's claim rides on.

Builds the 800k synthetic corpus at a given ``n_segments`` and reports,
for or/and WAND over hot terms and for the single hot term ``the`` (the
chunk-parallel single-term plan, ``single_term_chunk_parallel``):

- decoded-block counters (accumulator deltas around the timed
  wand_topk runs),
- best-of-N wall times for wand_topk,
- the exhaustive BooleanQuery scorer as the no-pruning baseline,
- an identical-results assertion across both paths.

Writes WAND_DEPTH.json (append-per-shape) and prints one JSON line.

Usage: python scripts/wand_depth.py [n_segments=4] [n_docs=800000]
       [trials=3]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_segments = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 800_000
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    os.makedirs("/dev/shm/spark_local", exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark_local")

    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query import BooleanQuery, Occur, TermQuery, wand
    from tantivy_spark.query.exact import ExactSearcher
    from tantivy_spark.query.wand import wand_topk
    from tantivy_spark.session import get_spark, warmup_python_workers

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(f"wand_depth_{n_segments}", master=f"local[{cpus}]")
    warmup_python_workers(spark)

    corpus_path = f"/dev/shm/tantivy_bench_corpus_{n_docs}"
    if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
        synthetic_pages(spark, n_docs).repartition(64) \
            .write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path).select("url", "text")

    out_idx = f"/dev/shm/tantivy_wand_depth_idx_s{n_segments}"
    cfg = IndexConfig(key_col="url", text_col="text",
                      n_segments=n_segments)
    t0 = time.time()
    build_index(spark, docs, out_idx, cfg)   # resumable: rebuild only once
    build_sec = round(time.time() - t0, 2)
    reader = IndexReader(spark, out_idx)

    def timed(fn):
        """-> (best wall, rows, WAND counter deltas of the last trial)."""
        best = None
        for _ in range(trials):
            before = wand.counters(spark)
            t = time.time()
            rows = fn()
            dt = time.time() - t
            after = wand.counters(spark)
            best = dt if best is None or dt < best else best
        return round(best, 3), rows, {n: after[n] - before[n] for n in after}

    result: dict = {
        "n_segments": n_segments, "n_docs": n_docs, "cpus": cpus,
        "build_or_resume_sec": build_sec,
        "load_before": [round(x, 2) for x in os.getloadavg()],
    }
    for name, mode, terms in (("or", "or", ["the", "of"]),
                              ("and", "and", ["the", "of"]),
                              ("single_term_chunk_parallel", "or", ["the"])):
        t_w, rows_w, stats = timed(lambda: wand_topk(
            reader, terms, k=10, mode=mode).collect())
        occur = Occur.SHOULD if mode == "or" else Occur.MUST
        q = BooleanQuery([(occur, TermQuery(t)) for t in terms])
        t_ex, rows_ex, _ = timed(lambda: ExactSearcher(reader)
                                 .search(q, k=10).collect())
        ident = ([(r["segment_ord"], r["doc_id"]) for r in rows_w]
                 == [(r["segment_ord"], r["doc_id"]) for r in rows_ex])
        result[name] = {
            "terms": terms,
            "decoded_blocks": stats["decoded_blocks"],
            "total_blocks": stats["total_blocks"],
            "wall_sec": t_w,
            "exhaustive_wall_sec": t_ex,
            "identical_top10": ident,
            "skip_rate_pct": round(
                100.0 * (1 - stats["decoded_blocks"]
                         / max(1, stats["total_blocks"])), 1),
        }
    result["load_after"] = [round(x, 2) for x in os.getloadavg()]

    path = os.path.join(REPO, "WAND_DEPTH.json")
    shapes = []
    if os.path.exists(path):
        try:
            with open(path) as fh:
                shapes = json.load(fh).get("shapes", [])
        except (json.JSONDecodeError, OSError):
            shapes = []
    shapes = [s for s in shapes
              if s.get("n_segments") != n_segments
              or s.get("n_docs") != n_docs] + [result]
    with open(path, "w") as fh:
        json.dump({"shapes": shapes}, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
