"""WAND kernel == exhaustive scoring (pruning must never change results).

Mirrors the reference's property test (block_wand_union.rs:293-320:
random corpora, WAND top-k equals exhaustive heap top-k), using the tiny
corpus + the golden engine as the exhaustive oracle, with f32 score
bit-equality."""

import numpy as np
import pytest

from tantivy_spark.query import BooleanQuery, Occur, TermQuery, wand
from tantivy_spark.query.golden import GoldenIndex
from tantivy_spark.query.wand import wand_topk

UNION_CASES = [
    (["the"], 10),
    (["data"], 5),
    (["fast", "slow"], 10),
    (["the", "data", "join"], 10),
    (["fast", "slow", "scan", "merge"], 7),
    (["zzz_nope"], 10),
    (["zzz_nope", "data"], 10),
    (["the"], 1),
    (["the", "of"], 100),
]

AND_CASES = [
    (["fast", "scan"], 10),
    (["the", "data"], 10),
    (["fast", "slow", "scan"], 10),
    (["data", "zzz_nope"], 10),
    (["table"], 10),
]


def _golden_topk(golden: GoldenIndex, terms, k, mode):
    occ = Occur.MUST if mode == "and" else Occur.SHOULD
    q = BooleanQuery([(occ, TermQuery(t)) for t in terms])
    return golden.top_k(q, k=k)


@pytest.mark.parametrize("terms,k", UNION_CASES, ids=lambda x: str(x))
def test_wand_union_matches_golden(tiny_index, tiny_golden, terms, k):
    if not isinstance(terms, list):
        pytest.skip("param order")
    got = wand_topk(tiny_index, terms, k=k, mode="or").collect()
    want = _golden_topk(tiny_golden, terms, k, "or")
    assert [(r["segment_ord"], r["doc_id"]) for r in got] == \
        [(s, d) for _r, s, d, _ in want]
    for r, (_rank, _s, _d, ws) in zip(got, want):
        assert np.float32(r["score"]) == np.float32(ws), (r, ws)


@pytest.mark.parametrize("terms,k", AND_CASES, ids=lambda x: str(x))
def test_wand_intersection_matches_golden(tiny_index, tiny_golden, terms, k):
    if not isinstance(terms, list):
        pytest.skip("param order")
    got = wand_topk(tiny_index, terms, k=k, mode="and").collect()
    occ_q = BooleanQuery([(Occur.MUST, TermQuery(t)) for t in terms])
    want = tiny_golden.top_k(occ_q, k=k)
    assert [(r["segment_ord"], r["doc_id"]) for r in got] == \
        [(s, d) for _r, s, d, _ in want]
    for r, (_rank, _s, _d, ws) in zip(got, want):
        assert np.float32(r["score"]) == np.float32(ws)


def _unit_counts(reader, terms, k, mode):
    """Per-unit sums of ``_segment_wand``'s counts, computed on the driver
    from the collected posting rows (one unit per chunk row for a single
    term, per segment otherwise)."""
    from tantivy_spark.bm25 import Bm25Params
    from tantivy_spark.query.wand import _TermBlocks, _segment_wand

    dfs = reader.doc_freqs(terms)
    params = {t: Bm25Params.for_one_term(dfs[t], reader.num_docs,
                                         reader.avg_fieldnorm_for_term(t))
              for t in terms}
    rows = reader.postings_for_terms(terms).drop("pos").collect()
    units: dict = {}
    for i, r in enumerate(rows):
        unit = i if len(terms) == 1 else r["segment_ord"]
        units.setdefault(unit, {}).setdefault(r["term"], []).append(r)
    want = {"decoded_blocks": 0, "processed_strips": 0, "total_blocks": 0}
    for per_term in units.values():
        if mode == "and" and len(per_term) < len(terms):
            continue
        present = [t for t in terms if t in per_term]
        tbs = [_TermBlocks(per_term[t], params[t]) for t in present]
        _d, _s, blocks, strips = _segment_wand(
            tbs, [params[t] for t in present], k, mode)
        want["decoded_blocks"] += blocks
        want["processed_strips"] += strips
        want["total_blocks"] += sum(len(tb.starts) for tb in tbs)
    return want


def _counter_delta(reader, terms, k, mode="or"):
    """The WAND counter deltas around one ordinary ``wand_topk`` collect."""
    before = wand.counters(reader.spark)
    wand_topk(reader, terms, k=k, mode=mode).collect()
    after = wand.counters(reader.spark)
    return {n: after[n] - before[n] for n in after}


@pytest.mark.parametrize("terms,mode", [
    (["the"], "or"),
    (["the", "data"], "or"),
    (["the", "data"], "and"),
], ids=["term", "or", "and"])
def test_counters_come_from_the_query_run(tiny_index, terms, mode):
    """The accumulator deltas around one ordinary ``wand_topk`` collect
    equal the kernel's own per-unit counts."""
    got = _counter_delta(tiny_index, terms, 3, mode)
    assert got == _unit_counts(tiny_index, terms, 3, mode)
    assert 0 < got["decoded_blocks"] <= got["total_blocks"]


def test_pruning_skips_blocks(spark, tmp_path_factory):
    """On a one-segment index whose hot lists span many blocks, the stop
    rule ends the strip loop before every block is decoded."""
    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader

    out = str(tmp_path_factory.mktemp("wprune") / "idx")
    build_index(spark, synthetic_pages(spark, 3000, seed=7), out,
                IndexConfig(key_col="url", text_col="text", n_segments=1))
    reader = IndexReader(spark, out)
    for terms, k in [(["the"], 1), (["the"], 10), (["the", "of"], 10)]:
        got = _counter_delta(reader, terms, k)
        assert 0 < got["decoded_blocks"] < got["total_blocks"], (terms, k, got)


def test_wand_randomized_merged(spark, tmp_path_factory):
    """Random Zipf corpus, single + merged-index variants: WAND == golden."""
    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.reader import IndexReader

    pages = synthetic_pages(spark, 400, seed=99).select("url", "text")
    rows = pages.collect()
    golden = GoldenIndex([r["url"] for r in rows], [r["text"] or "" for r in rows],
                         segment_of=lambda i, key: int(key[-12:]) % 3)
    out = str(tmp_path_factory.mktemp("widx") / "rand")
    build_index(spark, pages, out, IndexConfig(
        key_col="url", text_col="text", n_segments=3,
        segment_expr="pmod(cast(substring(url, -12, 12) as bigint), 3)"))
    reader = IndexReader(spark, out)
    for terms, mode in [(["the", "of", "and"], "or"), (["the", "of"], "and"),
                        (["zeta001", "the"], "or"), (["naïve"], "or")]:
        got = wand_topk(reader, terms, k=10, mode=mode).collect()
        occ = Occur.MUST if mode == "and" else Occur.SHOULD
        want = golden.top_k(BooleanQuery([(occ, TermQuery(t)) for t in terms]), k=10)
        assert [(r["segment_ord"], r["doc_id"]) for r in got] == \
            [(s, d) for _r, s, d, _ in want], (terms, mode)
        for r, (_rank, _s, _d, ws) in zip(got, want):
            assert np.float32(r["score"]) == np.float32(ws)


def test_boosted_terms_dispatch_to_wand(tiny_index, tiny_golden):
    """Boosted term unions take the WAND path with per-term baked boosts;
    results equal both the exact scorer and the f32 golden engine."""
    from tantivy_spark.query.ast import BoostQuery
    from tantivy_spark.query.searcher import Searcher, _pure_term_shape

    q = BooleanQuery([
        (Occur.SHOULD, BoostQuery(TermQuery("data"), 2.5)),
        (Occur.SHOULD, TermQuery("join")),
    ])
    shape = _pure_term_shape(q)
    assert shape == ("or", ["data", "join"], [2.5, 1.0])
    s = Searcher(tiny_index)
    w = s.search(q, k=10, method="wand").collect()
    e = s.search(q, k=10, method="exact").collect()
    assert [(r["rank"], r["key"]) for r in w] == [(r["rank"], r["key"]) for r in e]
    want = tiny_golden.top_k(q, k=10)
    assert [(r["segment_ord"], r["doc_id"]) for r in w] == \
        [(sg, d) for _r, sg, d, _ in want]
    for r, (_rank, _s, _d, ws) in zip(w, want):
        assert np.float32(r["score"]) == np.float32(ws)
