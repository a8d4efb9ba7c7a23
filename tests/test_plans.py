"""Physical-plan audits: the properties that make the engine survive a
100x scale-up must be visible in the executed plan, not assumed.

- term lookups push an In() filter into the parquet scan (row-group
  pruning via the term-sorted file layout);
- unused fat columns (positions) are pruned from the read schema;
- top-k is TakeOrderedAndProject (per-partition heap + driver merge),
  never a global sort;
- the k-row result side is broadcast into the docmap join, keeping the
  corpus-scale table distributed.
"""

import pytest

from tantivy_spark.query import TermQuery
from tantivy_spark.query.exact import ExactSearcher


def _plan(df, execute: bool = False) -> str:
    if execute:  # AQE finalizes join strategies only at execution time
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def searcher(tiny_index):
    return ExactSearcher(tiny_index)


def test_term_filter_pushed_to_parquet(searcher):
    plan = _plan(searcher.flat_postings(["data", "fast"]))
    assert "PushedFilters: [In(term" in plan
    assert "pos" not in plan.split("ReadSchema")[1][:400]


def test_positions_read_only_when_needed(searcher):
    plan = _plan(searcher.flat_postings(["data"], with_positions=True))
    assert "pos:binary" in plan.split("ReadSchema")[1][:500]


def test_topk_uses_take_ordered_and_broadcast(searcher):
    plan = _plan(searcher.search(TermQuery("data"), k=10), execute=True)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BuildLeft" in plan  # the k-row side is built/broadcast
    assert "SortMergeJoin" not in plan


def test_wand_topk_plan(tiny_index):
    from tantivy_spark.query.wand import wand_topk

    plan = _plan(wand_topk(tiny_index, ["fast", "slow"], k=10), execute=True)
    assert "TakeOrderedAndProject" in plan
    assert "BuildLeft" in plan
    assert "PushedFilters: [In(term" in plan


def test_count_single_term_is_stats_lookup(searcher, tiny_golden):
    # no postings decode at all: answered from term_stats
    assert searcher.count(TermQuery("data")) == tiny_golden.doc_freq("data")


def test_term_range_predicate_pushed_to_parquet(searcher):
    """The distributed TermRangeQuery path: range bounds reach the
    postings parquet scan as pushed filters (min/max row-group pruning on
    the term-sorted layout) — no driver-side dictionary expansion."""
    from tantivy_spark.query.ast import TermRangeQuery

    df = searcher.matching(TermRangeQuery("da", "dz", True, True))
    plan = _plan(df)
    pushed = plan.split("PushedFilters: ")[1][:300]
    assert "GreaterThanOrEqual(term,da)" in pushed
    assert "LessThanOrEqual(term,dz)" in pushed
    # no collect happened to build this plan: it is a pure DataFrame op
    assert df.count() > 0


def test_regex_query_stays_distributed(searcher):
    """RegexQuery lowers to a filter over the postings scan (RLIKE is
    evaluated distributed; no .collect() materialization of the
    dictionary)."""
    from tantivy_spark.query.ast import RegexQuery

    df = searcher.matching(RegexQuery("sc.n.*"))
    plan = _plan(df)
    assert "RLIKE" in plan or "rlike" in plan
    assert df.count() > 0


def test_warm_reader_keeps_postings_pushdown(spark, tiny_pages, tmp_path_factory):
    """warm() is term-addressed: docmap/term_stats cache, but postings
    stay on the cold parquet path so per-term In() pushdown survives."""
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader

    out = str(tmp_path_factory.mktemp("warm") / "idx")
    build_index(spark, tiny_pages, out,
                IndexConfig(key_col="url", text_col="text", n_segments=2))
    reader = IndexReader(spark, out).warm()
    try:
        s = ExactSearcher(reader)
        plan = _plan(s.flat_postings(["data", "fast"]))
        assert "PushedFilters: [In(term" in plan      # postings still cold
        assert "InMemoryTableScan" in _plan(reader.docmap)   # docmap cached
        assert "InMemoryTableScan" in _plan(reader.term_stats)
        # results unchanged through the warm reader
        assert s.search(TermQuery("data"), k=3).count() == 3
    finally:
        reader.docmap.unpersist()
        reader.term_stats.unpersist()


def test_single_term_wand_has_no_repartition(spark, tiny_index):
    """Single-term WAND maps straight over the postings scan: no
    segment_ord exchange in the plan (parallelism = chunk count, not
    segment count); multi-term keeps the co-locating repartition."""
    from tantivy_spark.query.wand import wand_topk

    single = wand_topk(tiny_index, ["data"], k=5)
    multi = wand_topk(tiny_index, ["data", "fast"], k=5)
    p1 = single._jdf.queryExecution().executedPlan().toString()
    p2 = multi._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(segment_ord" not in p1
    assert "hashpartitioning(segment_ord" in p2


def test_chunk_dedup_plan_is_udf_free(spark):
    """Chunk dedup lowers to pure Catalyst expressions: no Python eval
    nodes, exactly one hash-aggregate shuffle keyed by the chunk hash."""
    from tantivy_spark.pipeline.dedup import chunk_dedup_groups

    df = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    plan = chunk_dedup_groups(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning(chunk_hash") == 1


# ---- r8 optimization guards: the restructured pipeline ops must keep
# their plan shape (no Python eval nodes, no capping Window, the
# admission batch broadcast) — regressions should be loud, not prose.

def _docs2(spark):
    return spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
        "doc_id LONG, text STRING")


def test_substring_dedup_plan_udf_free(spark):
    """Window-lead fingerprinting stays pure-JVM: no Python nodes, no
    per-window string concat (xxhash64 over token-hash leads)."""
    from tantivy_spark.pipeline.dedup import dedup_substrings

    plan = dedup_substrings(_docs2(spark), min_len=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "concat_ws" not in plan   # the old O(min_len)/token formulation


def test_minhash_lsh_plan_single_pass(spark):
    """Bucket-pair expansion: one groupBy(band, bhash) aggregation, no
    capping Window, no self-join, no Python nodes."""
    from tantivy_spark.pipeline.dedup import (minhash_lsh_candidates,
                                              minhash_signatures)

    sigs = minhash_signatures(_docs2(spark), num_hashes=8, shingle_k=2)
    plan = minhash_lsh_candidates(sigs, bands=4, rows_per_band=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(band") == 1


def test_simhash_near_dups_plan_single_pass(spark):
    from tantivy_spark.pipeline.dedup import simhash64, simhash_near_dups

    sigs = simhash64(_docs2(spark))
    plan = simhash_near_dups(sigs, max_hamming=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(chunk") == 1


def test_dedup_against_broadcasts_batch(spark):
    """Admission joins broadcast the (small) batch side: the persisted
    store is scanned, never shuffled or sorted for a sort-merge join."""
    from tantivy_spark.pipeline.dedup import (band_signatures,
                                              dedup_against,
                                              minhash_signatures,
                                              simhash64, simhash_chunks,
                                              simhash_dedup_against)

    ref = minhash_signatures(_docs2(spark), num_hashes=8, shingle_k=2)
    rb = band_signatures(ref, bands=4, rows_per_band=2)
    out = dedup_against(_docs2(spark), ref, num_hashes=8, shingle_k=2,
                        bands=4, rows_per_band=2, ref_bands=rb)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2   # band join + sig join
    sh = simhash_dedup_against(simhash64(_docs2(spark)),
                               simhash_chunks(simhash64(_docs2(spark))))
    plan2 = sh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan2
    # best-match is a min-struct aggregate, not a row_number window
    # (the only Window left is simhash_chunks' bucket cap in the store
    # builder, which a real deployment persists once)
    assert "row_number" not in plan2


# ---- exact multi-clause lowering: every boolean / disjunction-max /
# sloppy-phrase query is ONE tagged postings scan plus ONE aggregate —
# no per-clause scans, no outer/anti join chains.

def _exact_shapes():
    from tantivy_spark.query.ast import (BooleanQuery, DisjunctionMaxQuery,
                                         Occur, PhraseQuery)

    return {
        "must_should_not": BooleanQuery([
            (Occur.MUST, TermQuery("data")), (Occur.SHOULD, TermQuery("fast")),
            (Occur.MUST_NOT, TermQuery("slow"))]),
        "or3": BooleanQuery([(Occur.SHOULD, TermQuery(t))
                             for t in ("data", "fast", "scan")]),
        "dismax3": DisjunctionMaxQuery(
            [TermQuery(t) for t in ("data", "fast", "scan")], tie_breaker=0.3),
        "slop2_phrase3": PhraseQuery(["the", "data", "the"], slop=2),
    }


def _final_plan(df) -> str:
    """The executed (AQE-final) plan only, not the initial plan that
    AdaptiveSparkPlan prints after it."""
    return _plan(df, execute=True).split("== Initial Plan ==")[0]


@pytest.mark.parametrize("name", list(_exact_shapes()))
def test_exact_multi_clause_is_one_scan_one_aggregate(searcher, name):
    df = searcher.search(_exact_shapes()[name], k=10)
    plan = _final_plan(df)
    assert plan.count("MapInPandas") == 1      # one postings decode
    assert plan.count("PushedFilters: [In(term") == 1
    # tiny_index has no deletes, so not even the deletes anti-join
    for join in ("LeftOuter", "FullOuter", "LeftAnti"):
        assert join not in plan, join
    assert "TakeOrderedAndProject" in plan


def test_exact_boolean_job_count(spark, searcher):
    """``+data fast -slow``: one doc_freqs lookup plus one execution.
    The per-clause lowering (join chains plus a second doc_freqs lookup
    for the MUST_NOT clause) ran 10 jobs for this query."""
    q = _exact_shapes()["must_should_not"]
    searcher.search(q, k=10).collect()     # warm the reader's lazy tables
    sc = spark.sparkContext
    sc.setJobGroup("exact_boolean_jobs", "exact_boolean_jobs")
    try:
        searcher.search(q, k=10).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("exact_boolean_jobs")) == 7
