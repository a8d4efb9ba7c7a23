"""Physical-plan audits: the properties that make the engine survive a
100x scale-up must be visible in the executed plan, not assumed.

- term lookups push an In() filter into the parquet scan (row-group
  pruning via the term-sorted file layout);
- unused fat columns (positions) are pruned from the read schema;
- top-k is TakeOrderedAndProject (per-partition heap + driver merge),
  never a global sort: the tail that puts the k hits in rank order is a
  root TakeOrderedAndProject too, so no range-partitioning exchange
  appears anywhere in a top-k plan;
- the k-row result side is broadcast into the docmap join, keeping the
  corpus-scale table distributed;
- query statistics (doc_freq) are read on the driver without a Spark
  job, so a term top-k runs 2 jobs and a WAND or exact boolean query 3
  (``count_jobs`` pins these counts, and the job budget of a build and
  a merge; ``count_py4j_calls`` pins a light query's driver round-trips);
- every positional query is one positions scan and one decode, however
  many clauses a phrase prefix expands to.
"""

import itertools

import pytest

from tantivy_spark.query import TermQuery
from tantivy_spark.query.exact import ExactSearcher


def _plan(df, execute: bool = False) -> str:
    if execute:  # AQE finalizes join strategies only at execution time
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


_job_groups = itertools.count()   # a fresh group name per measurement


def count_jobs(spark, fn) -> int:
    """Spark jobs one call of ``fn`` runs, after one warm-up call (which
    materializes the reader's lazy tables): the jobs of its job group,
    plus the ungrouped jobs it submits from its own worker threads (build
    and merge overlap their writes), which do not inherit the group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def ungrouped() -> set:
        sc._jsc.sc().listenerBus().waitUntilEmpty()   # job events delivered
        return set(tracker.getJobIdsForGroup(None))

    fn()
    group = f"count_jobs_{next(_job_groups)}"
    before = ungrouped()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    threaded = ungrouped() - before
    return len(tracker.getJobIdsForGroup(group)) + len(threaded)


def count_py4j_calls(spark, fn) -> int:
    """py4j round-trips one call of ``fn`` makes, after the same warm-up
    call as ``count_jobs``.  py4j's garbage-collection detach commands are
    not counted: they come whenever Python happens to collect a proxy."""
    from py4j import protocol

    detach = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    client = spark.sparkContext._gateway._gateway_client
    calls = [0]
    send = client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith(detach):
            calls[0] += 1
        return send(command, *args, **kwargs)

    fn()
    client.send_command = counting
    try:
        fn()
    finally:
        client.send_command = send
    return calls[0]


@pytest.fixture(scope="module")
def searcher(tiny_index):
    return ExactSearcher(tiny_index)


def test_term_filter_pushed_to_parquet(searcher):
    plan = _plan(searcher.flat_postings(["data", "fast"]))
    assert "PushedFilters: [In(term" in plan
    assert "pos" not in plan.split("ReadSchema")[1][:400]
    # the decode never reads the WAND block-max arrays
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "wand_fn" not in read_schema and "wand_tf" not in read_schema


def test_positions_read_only_when_needed(searcher):
    plan = _plan(searcher.flat_postings(["data"], with_positions=True))
    assert "pos:binary" in plan.split("ReadSchema")[1][:500]


def test_topk_uses_take_ordered_and_broadcast(searcher):
    plan = _plan(searcher.search(TermQuery("data"), k=10), execute=True)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BuildLeft" in plan  # the k-row side is built/broadcast
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan  # no global sort


def test_wand_topk_plan(tiny_index):
    from tantivy_spark.query.wand import wand_topk

    plan = _plan(wand_topk(tiny_index, ["fast", "slow"], k=10), execute=True)
    assert "TakeOrderedAndProject" in plan
    assert "BuildLeft" in plan
    assert "PushedFilters: [In(term" in plan
    assert "rangepartitioning" not in plan  # no global sort


def test_count_single_term_is_stats_lookup(spark, searcher, tiny_golden):
    # no postings decode at all: answered from term_stats, which the
    # driver reads without a Spark job
    assert searcher.count(TermQuery("data")) == tiny_golden.doc_freq("data")
    assert count_jobs(spark, lambda: searcher.reader.doc_freqs(
        ["data", "fast", "absent"])) == 0
    assert count_jobs(spark, lambda: searcher.count(TermQuery("data"))) == 0


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


def _wand_or(reader):
    from tantivy_spark.query.wand import wand_topk

    return lambda: wand_topk(reader, ["the", "data"], k=10).collect()


def test_term_topk_job_count(spark, tiny_index):
    """A term top-k is the WAND kernel job plus the docmap job: the
    doc_freq lookup runs no job and the rank-order tail no global sort."""
    from tantivy_spark.query.searcher import Searcher

    s = Searcher(tiny_index)
    assert count_jobs(spark, lambda: s.search("data").collect()) == 2


@pytest.mark.parametrize("text,calls", [
    ("data", 243), ("the data", 256), ("+data +fast", 256)])
def test_light_query_py4j_calls(spark, tiny_index, text, calls):
    """Driver round-trips to the JVM per light query: planning cost that
    no job count shows."""
    from tantivy_spark.query.searcher import Searcher

    s = Searcher(tiny_index)
    assert count_py4j_calls(spark, lambda: s.search(text).collect()) == calls


def test_wand_or_job_count(spark, tiny_index, tiny_pages, tmp_path_factory):
    """A 2-term OR counts its pruning work inside its one execution and
    runs 3 jobs.  With deletes, the one bounded collect of the delete set
    is the only extra job (its fixed read schema infers nothing)."""
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.deletes import delete_by_keys
    from tantivy_spark.index.reader import IndexReader

    assert count_jobs(spark, _wand_or(tiny_index)) == 3
    out = str(tmp_path_factory.mktemp("wdel") / "idx")
    build_index(spark, tiny_pages, out, IndexConfig(
        key_col="url", text_col="text", n_segments=4,
        segment_expr="pmod(cast(substring(url, -10, 10) as bigint), 4)"))
    reader = IndexReader(spark, out)
    keys = [r["key"] for r in
            ExactSearcher(reader).search(TermQuery("the"), k=5).collect()]
    assert delete_by_keys(spark, reader, keys) == 5
    assert count_jobs(spark, _wand_or(reader)) == 4


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
    """``+data fast -slow``: one execution of 3 jobs; the doc_freqs
    lookup runs none."""
    q = _exact_shapes()["must_should_not"]
    assert count_jobs(spark, lambda: searcher.search(q, k=10).collect()) == 3


def test_build_and_merge_job_counts(spark, tiny_pages, tmp_path_factory):
    """The index-write path's job budget: a 4-segment build of sf0.001
    runs 12 jobs (docmap and postings 2 each, term_stats and lineage 3
    each, the sentinel read for the manifest totals 2), and its merge to
    2 segments at most 20."""
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.merge import merge_segments

    base = tmp_path_factory.mktemp("write_jobs")
    built, merged = str(base / "built"), str(base / "merged")
    cfg = IndexConfig(n_segments=4)
    assert count_jobs(spark, lambda: build_index(
        spark, tiny_pages, built, cfg, resume=False)) == 12
    assert count_jobs(spark, lambda: merge_segments(
        spark, built, merged, n_target_segments=2)) <= 20


# ---- positional lowering: phrase, phrase-prefix and regex-phrase queries
# share ONE tagged positions scan, so a phrase-prefix plan does not grow
# with its expansions.

def _positional_shapes():
    from tantivy_spark.query.ast import (PhrasePrefixQuery, PhraseQuery,
                                         RegexPhraseQuery)

    return {
        "phrase": PhraseQuery(["order", "sort"]),
        "phrase_prefix": PhrasePrefixQuery(["the"], prefix="s"),
        "phrase_prefix_1": PhrasePrefixQuery(["the"], prefix="s",
                                             max_expansions=1),
        "regex_phrase": RegexPhraseQuery(["order", "s.*"]),
    }


def test_phrase_prefix_is_one_scan_one_decode(searcher):
    from pyspark.sql import functions as F

    q = _positional_shapes()["phrase_prefix"]
    assert len(searcher._dictionary_terms(
        [F.col("term").startswith(q.prefix)], q.max_expansions)) >= 3
    plan = _final_plan(searcher.search(q, k=10))
    assert plan.count("MapInPandas") == 1      # one postings decode
    assert plan.count("PushedFilters: [In(term") == 1


@pytest.mark.parametrize("name,jobs", [
    ("phrase", 4), ("phrase_prefix", 6), ("phrase_prefix_1", 6),
    ("regex_phrase", 9)])
def test_positional_job_counts(spark, searcher, name, jobs):
    """A phrase prefix runs as many jobs with 6 expansions as with 1: its
    expansions share one scan, one decode and one set of shuffles."""
    q = _positional_shapes()[name]
    assert count_jobs(spark,
                      lambda: searcher.search(q, k=10).collect()) == jobs
