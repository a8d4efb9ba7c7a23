"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE compact JSON line as the FINAL line of stdout:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total wall time of the headline query suite (lower is
better), using each metric's best-of-N trial.  Load normalization: every
metric records os.getloadavg() before/after plus its full trial array —
this box shows external load spikes that can stretch a single run
several-fold, so single-trial numbers are not comparable
round-over-round.  That bulky evidence is written to BENCH_DETAIL.json
in-repo (NOT inlined in the stdout line: the driver captures only the
tail of stdout, and round 3's inlined detail truncated the headline).

The big (800k-doc) regime additionally:
- publishes the WAND OR's decoded-block/strip counters (accumulator
  deltas around an ordinary wand_topk run) — pruning claims ride on
  counters, not wall time;
- runs the same build once more in a SUBPROCESS at
  local[$SPARK_GRAFT_PROBE_CPUS] (default 12 — the width this box still
  scales at per BASELINE.md; >12 threads saturate memory bandwidth), so
  the headline throughput has a number at a width the scaling doc
  endorses.  Set SPARK_GRAFT_PROBE_CPUS=0 to skip.

Scaling-efficiency evidence (north rule: >=0.8 going N -> 4N executors)
is produced by scripts/scaling.py, which runs this same build at
local[2] and local[8] in separate processes and appends the measured
efficiency to BENCH_SCALING.json.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _timed(fn, trials: int = 3) -> dict:
    """Best-of-N timing with loadavg evidence."""
    load_before = [round(x, 2) for x in os.getloadavg()]
    times = []
    for _ in range(trials):
        t0 = time.time()
        fn()
        times.append(round(time.time() - t0, 3))
    return {
        "sec": min(times),
        "trials": times,
        "load_before": load_before,
        "load_after": [round(x, 2) for x in os.getloadavg()],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # shuffle/spill on shm, like scripts/scaling.py — must precede the JVM
    os.makedirs("/dev/shm/spark_local", exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark_local")

    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader
    from tantivy_spark.query import (
        BooleanQuery, Occur, PhraseQuery, TermQuery,
    )
    from tantivy_spark.query.exact import ExactSearcher
    from tantivy_spark.session import get_spark, warmup_python_workers

    spark = get_spark("bench", master=f"local[{cpus}]")
    warmup_python_workers(spark)

    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}

    def record(name: str, fn, trials: int = 3) -> None:
        d = _timed(fn, trials)
        timings[name] = d["sec"]
        detail[name] = d

    # ---- index build (fresh each trial, no cache) -----------------------
    out = f"/tmp/tantivy_spark_bench_idx_{os.path.basename(sf_dir.rstrip('/'))}"
    docs = e._documents_as_keyed(spark, sf_dir)
    n_docs = docs.count()
    cfg = IndexConfig(key_col="key", text_col="text",
                      n_segments=int(cpus) if cpus.isdigit() else 32,
                      segment_expr=None,
                      fast_field_cols=["n_chars", "lang"])

    def build_once():
        shutil.rmtree(out, ignore_errors=True)
        build_index(spark, docs, out, cfg, resume=False)

    record("index_build", build_once, trials=3)
    timings["build_docs_per_sec"] = round(n_docs / timings["index_build"], 1)

    searcher = ExactSearcher(IndexReader(spark, out))

    # ---- headline queries ------------------------------------------------
    suite = {
        "q_term_top10": lambda: searcher.search(TermQuery("the"), k=10).collect(),
        "q_and_top10": lambda: searcher.search(
            BooleanQuery([(Occur.MUST, TermQuery("fast")),
                          (Occur.MUST, TermQuery("scan"))]), k=10).collect(),
        "q_or_top10": lambda: searcher.search(
            BooleanQuery([(Occur.SHOULD, TermQuery("fast")),
                          (Occur.SHOULD, TermQuery("slow"))]), k=10).collect(),
        "q_phrase_top10": lambda: searcher.search(
            PhraseQuery(["order", "sort"]), k=10).collect(),
        "q_wand_or_top10": lambda: __import__(
            "tantivy_spark.query.wand", fromlist=["wand_topk"]
        ).wand_topk(searcher.reader, ["fast", "slow"], k=10, mode="or").collect(),
        "q_wand_and_top10": lambda: __import__(
            "tantivy_spark.query.wand", fromlist=["wand_topk"]
        ).wand_topk(searcher.reader, ["fast", "scan"], k=10, mode="and").collect(),
        "q_count_and": lambda: searcher.count(
            BooleanQuery([(Occur.MUST, TermQuery("fast")),
                          (Occur.MUST, TermQuery("scan"))])),
        "q_fastfield_range": lambda: searcher.count(__import__(
            "tantivy_spark.query.ast", fromlist=["FastFieldRangeQuery"]
        ).FastFieldRangeQuery("n_chars", 500, 1500)),
        "q_search_agg": lambda: __import__(
            "tantivy_spark.query.searcher", fromlist=["Searcher"]
        ).Searcher(searcher.reader).aggregate(
            TermQuery("data"),
            {"by_lang": {"terms": {"field": "lang", "size": 5},
                         "aggs": {"av": {"avg": {"field": "n_chars"}}}}}
        )["by_lang"].collect(),
        "agg_terms": lambda: e.agg_terms_events(spark, sf_dir).collect(),
        "agg_date_hist": lambda: e.agg_date_histogram(spark, sf_dir).collect(),
        "agg_stats": lambda: e.agg_stats_value(spark, sf_dir).collect(),
        "dedup_exact": lambda: e.dedup_exact_docs(spark, sf_dir).collect(),
        "minhash_lsh": lambda: e.minhash_lsh_pairs(spark, sf_dir).collect(),
        "ann_cosine": lambda: e.ann_cosine_topk(spark, sf_dir).collect(),
        "token_counts": lambda: e.token_counts_docs(spark, sf_dir).count(),
    }
    # hyperplane-LSH ANN: per-query cost with vs without prebuilt bucket
    # tables (build_lsh_tables) — the prebuilt path must skip the
    # embedding scans
    from tantivy_spark.pipeline.similarity import (
        build_lsh_tables, lsh_cosine_topk)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    lsh_bt = build_lsh_tables(emb, len(qv), n_bits=6, n_tables=4).cache()
    lsh_bt.count()  # materialize outside the timed region
    suite["ann_lsh_inline"] = lambda: lsh_cosine_topk(
        emb, qv, k=10, n_bits=6, n_tables=4).collect()
    suite["ann_lsh_prebuilt"] = lambda: lsh_cosine_topk(
        emb, qv, k=10, n_bits=6, n_tables=4, bucket_tables=lsh_bt).collect()
    for name, fn in suite.items():
        record(name, fn, trials=3)
    total = timings["index_build"] + sum(timings[n] for n in suite)

    # ---- throughput regime: 800k-doc synthetic corpus -------------------
    # The sf0.1 numbers above are fixed-overhead-dominated (5k docs); this
    # regime measures the engine itself: build docs/sec and query latency
    # where posting lists are long enough for pruning to matter.
    big_n = int(os.environ.get("SPARK_GRAFT_BIG_DOCS", "800000"))
    if big_n > 0:
        from tantivy_spark.corpus import synthetic_pages
        from tantivy_spark.query import wand
        from tantivy_spark.query.wand import wand_topk

        corpus_path = f"/dev/shm/tantivy_bench_corpus_{big_n}"
        if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
            synthetic_pages(spark, big_n).repartition(64) \
                .write.mode("overwrite").parquet(corpus_path)
        docs_big = spark.read.parquet(corpus_path).select("url", "text")
        docs_big.count()  # warm the input read before timing the build
        out_big = "/dev/shm/tantivy_bench_idx"
        big_cfg = IndexConfig(key_col="url", text_col="text",
                              n_segments=int(cpus) if cpus.isdigit() else 32)

        def big_build_once():
            shutil.rmtree(out_big, ignore_errors=True)
            build_index(spark, docs_big, out_big, big_cfg, resume=False)

        record("big_build_sec", big_build_once, trials=2)
        timings["big_build_docs_per_sec"] = round(
            big_n / timings["big_build_sec"], 1)

        big_reader = IndexReader(spark, out_big)

        def big_or():
            return wand_topk(big_reader, ["the", "of"], k=10,
                             mode="or").collect()

        big_suite = {
            "big_wand_or": big_or,
            # threshold seeding is deleted; the key stays in the stdout
            # line and times the plain OR
            "big_wand_or_seeded": big_or,
            "big_wand_and": lambda: wand_topk(
                big_reader, ["the", "of"], k=10, mode="and").collect(),
            "big_exact_term": lambda: ExactSearcher(big_reader).search(
                TermQuery("the"), k=10).collect(),
        }
        for name, fn in big_suite.items():
            record(name, fn, trials=3)

        # pruning work, counted: the OR's decoded blocks
        def wand_blocks():
            before = wand.counters(spark)
            big_or()
            after = wand.counters(spark)
            return {n: after[n] - before[n] for n in after}

        detail["big_wand_blocks"] = {
            "unseeded": wand_blocks(),
            "seeded": wand_blocks(),
            "note": "threshold seeding is deleted; both entries count "
                    "the plain OR",
        }

        # segment merge 32 -> 8 (the reference benches merge_segments too);
        # chunk-level rebase, range-partitioned shuffle, vectorized codec
        # both ways
        from tantivy_spark.index.merge import merge_segments

        out_m = "/dev/shm/tantivy_bench_idx_merged"

        def big_merge_once():
            shutil.rmtree(out_m, ignore_errors=True)
            merge_segments(spark, out_big, out_m, n_target_segments=8)

        record("big_merge_sec", big_merge_once, trials=2)
        timings["big_merge_docs_per_sec"] = round(
            big_n / timings["big_merge_sec"], 1)

        # SERVING-SHAPE latency: the 100-TB deployment recipe is
        # wide-build -> merge down to few big segments (build_index_wide);
        # these rows track query latency against the MERGED 8-segment
        # index round-over-round (not just the 32-segment build shape)
        merged_reader = IndexReader(spark, out_m)
        record("big_wand_or_merged", lambda: wand_topk(
            merged_reader, ["the", "of"], k=10, mode="or").collect(),
            trials=3)
        record("big_wand_and_merged", lambda: wand_topk(
            merged_reader, ["the", "of"], k=10, mode="and").collect(),
            trials=3)
        record("big_exact_term_merged", lambda: ExactSearcher(
            merged_reader).search(TermQuery("the"), k=10).collect(),
            trials=3)
        shutil.rmtree(out_m, ignore_errors=True)

        # SORTED-index merge (r6, merger.rs sorted doc-id mapping): the
        # heavier path — per-term GLOBAL re-sort + re-chunk through the
        # old->new permutation instead of independent chunk rebase.
        # One untimed sorted build feeds 2 timed merge trials.
        out_sorted = "/dev/shm/tantivy_bench_idx_sorted"
        shutil.rmtree(out_sorted, ignore_errors=True)
        build_index(spark,
                    docs_big.withColumn("tlen", F.octet_length("text")),
                    out_sorted,
                    IndexConfig(key_col="url", text_col="text",
                                n_segments=big_cfg.n_segments,
                                sort_col="desc:tlen"),
                    resume=False)

        def big_sorted_merge_once():
            out_m = "/dev/shm/tantivy_bench_idx_smerged"
            shutil.rmtree(out_m, ignore_errors=True)
            merge_segments(spark, out_sorted, out_m, n_target_segments=8)
            shutil.rmtree(out_m, ignore_errors=True)

        record("big_sorted_merge_sec", big_sorted_merge_once, trials=2)
        timings["big_sorted_merge_docs_per_sec"] = round(
            big_n / timings["big_sorted_merge_sec"], 1)
        shutil.rmtree(out_sorted, ignore_errors=True)

        # pipeline throughput over the big corpus (docs/sec)
        from tantivy_spark.pipeline.dedup import simhash64
        from tantivy_spark.pipeline.textstats import token_counts
        keyed = docs_big.select(F.xxhash64("url").alias("doc_id"), "text")
        record("big_simhash_sec", lambda: simhash64(keyed).count(), trials=2)
        timings["big_simhash_docs_per_sec"] = round(
            big_n / timings["big_simhash_sec"], 1)
        record("big_token_counts_sec", lambda: token_counts(keyed).count(),
               trials=2)
        timings["big_token_counts_docs_per_sec"] = round(
            big_n / timings["big_token_counts_sec"], 1)

        # incremental dedup ADMISSION cost (r7): given the persisted
        # 800k-doc signature store, how fast does a 16k-doc new batch
        # admit?  The store build is untimed (it is the one-time cost a
        # real deployment amortizes); the timed path is signature the
        # batch + banded new-vs-ref join + agreement estimate.
        from tantivy_spark.pipeline.dedup import (
            band_signatures, dedup_against, minhash_signatures)
        sig_store = f"/dev/shm/tantivy_bench_sigs_{big_n}"
        if not os.path.exists(os.path.join(sig_store, "_SUCCESS")):
            minhash_signatures(keyed, num_hashes=32).write.mode(
                "overwrite").parquet(sig_store)
        band_store = f"/dev/shm/tantivy_bench_sigbands_{big_n}"
        if not os.path.exists(os.path.join(band_store, "_SUCCESS")):
            band_signatures(spark.read.parquet(sig_store), bands=8,
                            rows_per_band=4).write.mode(
                "overwrite").parquet(band_store)
        ref_sigs = spark.read.parquet(sig_store)
        ref_bands = spark.read.parquet(band_store)
        new_batch = (keyed.filter(F.col("doc_id") % 50 == 0)
                     .select((F.col("doc_id") + F.lit(1)).alias("doc_id"),
                             "text"))
        new_n = new_batch.count()
        record("big_incremental_dedup_sec",
               lambda: dedup_against(new_batch, ref_sigs, num_hashes=32,
                                     bands=8, rows_per_band=4,
                                     threshold=0.5).count(),
               trials=2)
        timings["big_incremental_dedup_newdocs_per_sec"] = round(
            new_n / timings["big_incremental_dedup_sec"], 1)
        # admission with the PERSISTED banded store (the deployment
        # shape: band once when the store is built, not per batch)
        record("big_incremental_dedup_prebuilt_sec",
               lambda: dedup_against(new_batch, ref_sigs, num_hashes=32,
                                     bands=8, rows_per_band=4,
                                     threshold=0.5,
                                     ref_bands=ref_bands).count(),
               trials=2)
        timings["big_incremental_dedup_prebuilt_newdocs_per_sec"] = round(
            new_n / timings["big_incremental_dedup_prebuilt_sec"], 1)

        # simhash incremental admission (r7): the exact-Hamming-ball
        # sibling — signature the batch + chunk equi-join against the
        # persisted chunk store + popcount verify (store build untimed,
        # the amortized one-time cost)
        from tantivy_spark.pipeline.dedup import (
            simhash_chunks, simhash_dedup_against)
        sh_store = f"/dev/shm/tantivy_bench_shchunks_{big_n}"
        if not os.path.exists(os.path.join(sh_store, "_SUCCESS")):
            simhash_chunks(simhash64(keyed), max_hamming=3).write.mode(
                "overwrite").parquet(sh_store)
        sh_ref = spark.read.parquet(sh_store)
        record("big_simhash_admission_sec",
               lambda: simhash_dedup_against(
                   simhash64(new_batch), sh_ref, max_hamming=3).count(),
               trials=2)
        timings["big_simhash_admission_newdocs_per_sec"] = round(
            new_n / timings["big_simhash_admission_sec"], 1)

        # chunk-level dedup throughput (pure-JVM strided windows +
        # one hash-groupBy — the sub-document dedup op, r5)
        from tantivy_spark.pipeline.dedup import chunk_dedup_groups
        record("big_chunk_dedup_sec",
               lambda: chunk_dedup_groups(keyed, window=64,
                                          stride=64).count(), trials=2)
        timings["big_chunk_dedup_docs_per_sec"] = round(
            big_n / timings["big_chunk_dedup_sec"], 1)

        # exact duplicated-substring removal (Lee et al. style token-window
        # fingerprinting, r7): 200k-doc slice + ~2% seeded verbatim copies
        # so the keeper/mask/rebuild path does real removal work — the
        # aggregate forces the full text rebuild (length sum), not just
        # the window-count plan
        from tantivy_spark.pipeline.dedup import dedup_substrings
        # modulo filter, NOT limit(): limit funnels the plan through a
        # single partition and serializes the window explode
        sub_base = keyed.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
        sub_corpus = sub_base.union(
            sub_base.filter(F.col("doc_id") % 50 == 0)
            .select((F.col("doc_id") + F.lit(1)).alias("doc_id"), "text"))
        sub_n = sub_corpus.count()
        record("big_substring_dedup_sec",
               lambda: dedup_substrings(sub_corpus, min_len=20)
               .select(F.sum(F.length("text")).alias("b"),
                       F.sum("n_tokens_removed").alias("rm")).collect(),
               trials=2)
        timings["big_substring_dedup_docs_per_sec"] = round(
            sub_n / timings["big_substring_dedup_sec"], 1)

        # PII scrub + repetition stats throughput (data-hygiene passes;
        # pii is a pure codegen'd map, repetition adds one explode +
        # two groupBys)
        from tantivy_spark.pipeline.contamination import repetition_stats
        from tantivy_spark.pipeline.pii import pii_counts
        record("big_pii_sec", lambda: pii_counts(
            docs_big, id_col="url").agg(F.sum("pii_total")).collect(),
            trials=2)
        timings["big_pii_docs_per_sec"] = round(
            big_n / timings["big_pii_sec"], 1)
        record("big_repetition_sec", lambda: repetition_stats(
            docs_big, id_col="url").agg(F.sum("n_tokens")).collect(),
            trials=2)
        timings["big_repetition_docs_per_sec"] = round(
            big_n / timings["big_repetition_sec"], 1)

        # stemmed-chain analyzer throughput: the en_stem pandas-UDF path
        # with vocabulary-level stemming (unique tokens per Arrow batch
        # stemmed once, then dictionary-mapped — per-token Python becomes
        # per-unique-term Python)
        from tantivy_spark.analyzer import en_stem_tokens_col
        stem_docs = docs_big.limit(100_000)
        n_stem_tokens = stem_docs.select(
            F.sum(F.size(F.split("text", r"\s+"))).alias("n")
        ).collect()[0]["n"]
        record("big_stem_chain_sec", lambda: stem_docs.select(
            en_stem_tokens_col(F.col("text")).alias("t")
        ).select(F.sum(F.size("t"))).collect(), trials=2)
        timings["big_stem_tokens_per_sec"] = round(
            n_stem_tokens / timings["big_stem_chain_sec"], 1)

        # ---- width probe: the same build in a fresh JVM at a width the
        # box still scales at (BASELINE.md: memory bandwidth saturates
        # past ~12 threads, so local[32] underuses its cores).  The main
        # session is STOPPED first — its 32 idle executor threads and
        # held memory would otherwise contend with the probe JVM.
        probe_cpus = os.environ.get("SPARK_GRAFT_PROBE_CPUS", "12")
        if probe_cpus.isdigit() and int(probe_cpus) > 0:
            spark.stop()
            try:
                proc = subprocess.run(
                    [sys.executable,
                     os.path.join(REPO, "scripts", "width_probe.py"),
                     corpus_path, probe_cpus, str(big_cfg.n_segments)],
                    capture_output=True, text=True, timeout=900)
                probe = json.loads(proc.stdout.strip().splitlines()[-1])
                timings[f"big_build_w{probe_cpus}_docs_per_sec"] = \
                    probe["docs_per_sec"]
                detail[f"big_build_w{probe_cpus}"] = probe
            except subprocess.TimeoutExpired:
                detail["width_probe_error"] = "timeout after 900s"
            except (json.JSONDecodeError, IndexError, KeyError):
                detail["width_probe_error"] = proc.stderr[-500:]

    # The driver captures only the TAIL of stdout and parses the LAST line:
    # the bulky per-metric evidence (trial arrays, loadavg, wand counters)
    # goes to its own in-repo file, and the compact headline suite is the
    # final — and therefore always-captured, always-parseable — line.
    #
    # Round-stamped + append-only (VERDICT r04 Wrong #1: the driver's
    # re-run clobbered the builder's clean-run detail; only git history
    # saved it).  The detail file is BENCH_DETAIL_r{N}.json where N is
    # the round in flight (max existing BENCH_r*.json + 1, overridable
    # via SPARK_GRAFT_ROUND); re-runs in the same round APPEND to its
    # "runs" list, so every run's trial arrays + loadavg survive.
    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if not (rnd and rnd.isdigit()):
        done = [int(m.group(1)) for f in os.listdir(REPO)
                if (m := re.match(r"BENCH_r(\d+)\.json$", f))]
        rnd = str(max(done, default=0) + 1)
    detail_name = f"BENCH_DETAIL_r{int(rnd):02d}.json"
    detail_path = os.path.join(REPO, detail_name)
    this_run = {"detail": detail, "sf": sf_dir, "cpus": cpus,
                "wall_clock_utc": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    runs = []
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as fh:
                runs = json.load(fh).get("runs", [])
        except (json.JSONDecodeError, OSError):
            runs = []
    runs.append(this_run)
    with open(detail_path, "w") as fh:
        json.dump({"round": int(rnd), "runs": runs}, fh, indent=1)
    # legacy pointer kept for older tooling; same clobber-safe content
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as fh:
        json.dump({"round": int(rnd), "runs": runs}, fh, indent=1)
    print(json.dumps({
        "metric": "index_build_plus_query_suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        "big_n_docs": big_n,
        "round": int(rnd),
        "run_ordinal": len(runs),
        "detail_file": detail_name,
    }))


if __name__ == "__main__":
    main()
