"""Merge invariants: a merged index answers every query identically
(same keys, same scores, same ranks) and stacking preserves order.

Mirrors the reference's merger tests (merged-vs-monolithic equality of
query results, src/indexer/merger.rs tests)."""

import pytest
from pyspark.sql import functions as F

from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query import BooleanQuery, Occur, PhraseQuery, TermQuery
from tantivy_spark.query.exact import ExactSearcher

QUERIES = [
    TermQuery("the"),
    TermQuery("data"),
    BooleanQuery([(Occur.MUST, TermQuery("fast")), (Occur.MUST, TermQuery("scan"))]),
    BooleanQuery([(Occur.SHOULD, TermQuery("fast")), (Occur.SHOULD, TermQuery("slow"))]),
    PhraseQuery(["order", "sort"]),
]


@pytest.fixture(scope="module")
def merged_index(spark, tiny_index, tmp_path_factory):
    from tantivy_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("midx") / "merged")
    merge_segments(spark, tiny_index.index_dir, out)
    return IndexReader(spark, out)


def test_merged_has_one_segment(merged_index, tiny_index):
    segs = [r[0] for r in merged_index.postings.select("segment_ord").distinct().collect()]
    assert segs == [0]
    assert merged_index.num_docs == tiny_index.num_docs
    assert merged_index.total_num_tokens == tiny_index.total_num_tokens


def test_doc_freqs_preserved(merged_index, tiny_index):
    terms = ["the", "data", "fast", "scan", "order"]
    assert merged_index.doc_freqs(terms) == tiny_index.doc_freqs(terms)


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: "-".join(q.terms())[:30])
def test_query_results_identical_after_merge(spark, tiny_index, merged_index, q):
    a = ExactSearcher(tiny_index).search(q, k=15).collect()
    b = ExactSearcher(merged_index).search(q, k=15).collect()
    assert [(r["rank"], r["key"]) for r in a] == [(r["rank"], r["key"]) for r in b]
    for ra, rb in zip(a, b):
        assert ra["score"] == pytest.approx(rb["score"], rel=1e-12)


def test_stacking_preserves_address_order(spark, tiny_index, merged_index):
    """merged doc_id = offset(segment) + old doc_id, so old (segment_ord,
    doc_id) order == new doc_id order (merger.rs:697-708 semantics)."""
    old = tiny_index.docmap.orderBy("segment_ord", "doc_id").select("key").collect()
    new = merged_index.docmap.orderBy("doc_id").select("key").collect()
    assert [r["key"] for r in old] == [r["key"] for r in new]
    # dense, gap-free doc ids
    ids = [r[0] for r in merged_index.docmap.select("doc_id").orderBy("doc_id").collect()]
    assert ids == list(range(len(ids)))


def test_merge_drops_deleted_docs(spark, tmp_path_factory):
    """After merging an index with deletes, the result is IDENTICAL to a
    fresh index built over only the alive docs (docs dropped, ids dense,
    stats recomputed from alive fieldnorms — merger.rs:85-114, 697-708)."""
    from pyspark.sql import functions as F

    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.deletes import delete_by_keys
    from tantivy_spark.index.merge import merge_segments

    pages = synthetic_pages(spark, 180, seed=17).select("url", "text")
    cfg = IndexConfig(key_col="url", text_col="text", n_segments=3)
    full = str(tmp_path_factory.mktemp("md") / "full")
    build_index(spark, pages, full, cfg)
    reader = IndexReader(spark, full)
    victims = [r["key"] for r in
               ExactSearcher(reader).search(TermQuery("the"), k=4).collect()]
    assert delete_by_keys(spark, reader, victims) == 4

    merged = str(tmp_path_factory.mktemp("md") / "merged")
    merge_segments(spark, full, merged)
    mr = IndexReader(spark, merged)
    assert mr.deletes is None
    assert mr.num_docs == 180 - 4

    # oracle: a fresh single-segment index over only the alive docs
    alive_pages = pages.filter(~F.col("url").isin(victims))
    ref = str(tmp_path_factory.mktemp("md") / "ref")
    build_index(spark, alive_pages, ref,
                IndexConfig(key_col="url", text_col="text", n_segments=1,
                            segment_expr="0"))
    rr = IndexReader(spark, ref)
    assert mr.total_num_tokens == rr.total_num_tokens
    for q in (TermQuery("the"),
              BooleanQuery([(Occur.SHOULD, TermQuery("the")),
                            (Occur.SHOULD, TermQuery("of"))])):
        a = ExactSearcher(mr).search(q, k=10).collect()
        b = ExactSearcher(rr).search(q, k=10).collect()
        assert [r["key"] for r in a] == [r["key"] for r in b]
        for ra, rb in zip(a, b):
            assert ra["score"] == pytest.approx(rb["score"], rel=1e-12)


@pytest.fixture(scope="module")
def merged3_index(spark, tiny_index, tmp_path_factory):
    from tantivy_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("m3") / "merged3")
    merge_segments(spark, tiny_index.index_dir, out, n_target_segments=3)
    return IndexReader(spark, out)


def test_merge_to_n_targets_keeps_n_segments(merged3_index, tiny_index):
    """Tiered compaction (LogMergePolicy semantics): n output segments so
    per-segment query kernels stay parallel after compaction."""
    segs = sorted(r[0] for r in merged3_index.postings
                  .select("segment_ord").distinct().collect())
    assert segs == [0, 1, 2]
    assert merged3_index.num_docs == tiny_index.num_docs
    assert merged3_index.total_num_tokens == tiny_index.total_num_tokens
    assert merged3_index.manifest["totals"]["num_segments"] == 3
    # segment sizes balanced within one input-segment granule
    sizes = merged3_index.docmap.groupBy("segment_ord").count().collect()
    assert max(r["count"] for r in sizes) <= 2 * min(r["count"] for r in sizes) + 200


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: "-".join(q.terms())[:30])
def test_query_results_identical_after_merge3(spark, tiny_index, merged3_index, q):
    a = ExactSearcher(tiny_index).search(q, k=15).collect()
    b = ExactSearcher(merged3_index).search(q, k=15).collect()
    assert [(r["rank"], r["key"]) for r in a] == [(r["rank"], r["key"]) for r in b]
    for ra, rb in zip(a, b):
        assert ra["score"] == pytest.approx(rb["score"], rel=1e-12)


def test_wand_identical_after_merge3(spark, tiny_index, merged3_index):
    from tantivy_spark.query.wand import wand_topk

    for mode, terms in (("or", ["fast", "slow"]), ("and", ["fast", "scan"])):
        a = wand_topk(tiny_index, terms, k=12, mode=mode).collect()
        b = wand_topk(merged3_index, terms, k=12, mode=mode).collect()
        assert [(r["rank"], r["key"], r["score"]) for r in a] == \
               [(r["rank"], r["key"], r["score"]) for r in b]


def test_merge_output_is_term_clustered(spark, tiny_index, tmp_path_factory):
    """The merge kernels read range-partitioned, term-sorted input and
    write it without a further exchange, so the written postings files
    cover ordered term ranges that meet at most in one boundary term
    (the range key is (term, segment_ord, chunk_id), so a hot term's
    chunks may continue into the next file): a term lookup prunes to a
    contiguous run of files.  Files of fieldnorm sentinel rows are
    addressed by term filter, not layout, and are left out."""
    import glob
    import os

    import pyarrow.parquet as pq

    from tantivy_spark.index.build import FIELDNORM_SENTINEL
    from tantivy_spark.index.merge import merge_segments

    out = str(tmp_path_factory.mktemp("m2") / "merged2")
    merge_segments(spark, tiny_index.index_dir, out, n_target_segments=2)
    ranges = []
    for path in glob.glob(os.path.join(out, "postings", "*.parquet")):
        terms = [t for t in pq.read_table(path, columns=["term"])
                 .column("term").to_pylist()
                 if not t.startswith(FIELDNORM_SENTINEL)]
        if terms:
            ranges.append((min(terms), max(terms)))
    ranges.sort()
    assert len(ranges) > 1
    for (_lo, hi), (next_lo, _hi) in zip(ranges, ranges[1:]):
        assert hi <= next_lo, ranges


def test_merge3_stacking_preserves_address_order(tiny_index, merged3_index):
    old = tiny_index.docmap.orderBy("segment_ord", "doc_id").select("key").collect()
    new = merged3_index.docmap.orderBy("segment_ord", "doc_id").select("key").collect()
    assert [r["key"] for r in old] == [r["key"] for r in new]
    # dense, gap-free doc ids within each output segment
    for seg in (0, 1, 2):
        ids = [r[0] for r in merged3_index.docmap
               .filter(F.col("segment_ord") == seg)
               .select("doc_id").orderBy("doc_id").collect()]
        assert ids == list(range(len(ids)))


def test_merge3_with_deletes(spark, tmp_path_factory):
    """n-target merge + deletes: identical to a fresh alive-only build."""
    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.deletes import delete_by_keys
    from tantivy_spark.index.merge import merge_segments

    pages = synthetic_pages(spark, 160, seed=23).select("url", "text")
    full = str(tmp_path_factory.mktemp("m3d") / "full")
    build_index(spark, pages, full,
                IndexConfig(key_col="url", text_col="text", n_segments=5))
    reader = IndexReader(spark, full)
    victims = [r["key"] for r in
               ExactSearcher(reader).search(TermQuery("of"), k=6).collect()]
    delete_by_keys(spark, reader, victims)

    merged = str(tmp_path_factory.mktemp("m3d") / "merged")
    merge_segments(spark, full, merged, n_target_segments=2)
    mr = IndexReader(spark, merged)
    assert mr.num_docs == 160 - len(victims)
    assert mr.manifest["totals"]["num_segments"] == 2

    alive_pages = pages.filter(~F.col("url").isin(victims))
    ref = str(tmp_path_factory.mktemp("m3d") / "ref")
    build_index(spark, alive_pages, ref,
                IndexConfig(key_col="url", text_col="text", n_segments=1,
                            segment_expr="0"))
    rr = IndexReader(spark, ref)
    assert mr.total_num_tokens == rr.total_num_tokens
    q = BooleanQuery([(Occur.SHOULD, TermQuery("the")),
                      (Occur.SHOULD, TermQuery("of"))])
    a = ExactSearcher(mr).search(q, k=10).collect()
    b = ExactSearcher(rr).search(q, k=10).collect()
    assert [r["key"] for r in a] == [r["key"] for r in b]
    for ra, rb in zip(a, b):
        assert ra["score"] == pytest.approx(rb["score"], rel=1e-12)


def test_chunked_sentinel_fieldnorms_roundtrip(spark, tmp_path_factory):
    """Fieldnorm sentinels are chunked (chunk_docs docs per row); the
    reader must reassemble per-doc stats across chunks — and a merge of a
    chunked index must re-chunk and still answer queries identically."""
    import numpy as np

    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import FIELDNORM_SENTINEL, IndexConfig, build_index
    from tantivy_spark.index.merge import merge_segments

    pages = synthetic_pages(spark, 300, seed=5).select("url", "text")
    out = str(tmp_path_factory.mktemp("chunked") / "idx")
    build_index(spark, pages, out,
                IndexConfig(key_col="url", text_col="text", n_segments=2,
                            chunk_docs=64))  # forces many sentinel chunks
    r = IndexReader(spark, out)
    assert r.chunk_docs == 64
    sent_rows = r.postings.filter(F.col("term") == FIELDNORM_SENTINEL).count()
    assert sent_rows > 2  # chunked: more than one row per segment
    fns = r.fieldnorms.orderBy("segment_ord", "doc_id").collect()
    assert len(fns) == 300
    by_seg: dict[int, list[int]] = {}
    for row in fns:
        by_seg.setdefault(row["segment_ord"], []).append(row["doc_id"])
    for _seg, ids in by_seg.items():
        assert ids == list(range(len(ids)))
    assert int(np.sum([row["num_tokens"] for row in fns])) == r.total_num_tokens

    merged = str(tmp_path_factory.mktemp("chunked") / "merged")
    merge_segments(spark, out, merged)
    mr = IndexReader(spark, merged)
    assert mr.total_num_tokens == r.total_num_tokens
    a = ExactSearcher(r).search(TermQuery("the"), k=10).collect()
    b = ExactSearcher(mr).search(TermQuery("the"), k=10).collect()
    assert [rr["key"] for rr in a] == [rr["key"] for rr in b]


def test_log_merge_plan_layers():
    from tantivy_spark.index.merge import log_merge_plan

    sizes = {0: 500, 1: 800, 2: 900, 3: 50_000, 4: 45_000, 5: 2_000_000}
    plan = log_merge_plan(sizes, min_layer_docs=1000, layer_factor=3.0)
    # the three small segments share layer 0; the two mid ones share a
    # layer; the huge one is alone
    assert plan[0] == plan[1] == plan[2] == 0
    assert plan[3] == plan[4] != 0
    assert plan[5] not in (plan[0], plan[3])


def test_merge_with_explicit_groups(spark, tiny_index, tmp_path_factory):
    """LogMergePolicy-style selective merge: an explicit groups map merges
    chosen segments together and leaves others as their own output
    segment; results stay query-identical as a SET (addresses renumber)."""
    from tantivy_spark.index.merge import log_merge_plan, merge_segments

    segs = sorted(r[0] for r in tiny_index.docmap
                  .select("segment_ord").distinct().collect())
    # group the first two segments together, keep the rest singleton
    groups = {s: (0 if s in segs[:2] else s + 100) for s in segs}
    out = str(tmp_path_factory.mktemp("lgm") / "m")
    merge_segments(spark, tiny_index.index_dir, out, groups=groups)
    mr = IndexReader(spark, out)
    n_out = mr.docmap.select("segment_ord").distinct().count()
    assert n_out == len(segs) - 1
    assert mr.num_docs == tiny_index.num_docs
    terms = ["the", "data", "fast"]
    assert mr.doc_freqs(terms) == tiny_index.doc_freqs(terms)
    q = BooleanQuery([(Occur.SHOULD, TermQuery("fast")),
                      (Occur.SHOULD, TermQuery("slow"))])
    a = ExactSearcher(tiny_index).search(q, k=15).collect()
    b = ExactSearcher(mr).search(q, k=15).collect()
    # same keys at same scores (addresses renumber, ties may reorder)
    assert sorted((r["key"], round(r["score"], 9)) for r in a) == \
        sorted((r["key"], round(r["score"], 9)) for r in b)
    # sanity: log_merge_plan output is a valid groups argument
    sizes = {s: 100 for s in segs}
    plan = log_merge_plan(sizes, min_layer_docs=1000)
    assert set(plan) == set(segs)


def test_build_index_wide_matches_direct(spark, tiny_pages,
                                         tmp_path_factory):
    """build_index_wide (build at cluster width, merge down — the
    few-big-segments scale path) produces an index with the target
    segment count, the same global doc/term stats, and identical query
    results as a direct build at the target count."""
    from tantivy_spark.index.build import (
        IndexConfig, build_index, build_index_wide)

    base = tmp_path_factory.mktemp("wideidx")
    cfg = IndexConfig(key_col="url", text_col="text", n_segments=2)
    direct = str(base / "direct")
    build_index(spark, tiny_pages, direct, cfg)
    wide = str(base / "wide")
    m = build_index_wide(spark, tiny_pages, wide, cfg, build_segments=8)
    assert m["totals"]["num_segments"] == 2
    rd, rw = IndexReader(spark, direct), IndexReader(spark, wide)
    assert rd.num_docs == rw.num_docs
    for q in QUERIES:
        # DocAddress assignment (segment_ord, doc_id) legitimately
        # differs between the two builds, so score TIES order
        # differently — compare the full (key, score) hit sets instead
        # (k past the corpus size), which must be identical
        hd = sorted((r["key"], round(r["score"], 4)) for r in
                    ExactSearcher(rd).search(q, k=600).collect())
        hw = sorted((r["key"], round(r["score"], 4)) for r in
                    ExactSearcher(rw).search(q, k=600).collect())
        assert hd == hw, q


#: md5 of each merged table's sorted rows: a merge-kernel change that moves
#: one byte of the output fails here.  Key: (sorted index, n targets).
MERGED_TABLE_DIGESTS = {
    (False, 1): {"postings": "6763b1b0bfa13c9f9f93dca022dab9a3",
                 "docmap": "0ca935d41bb7b3fe12571ad3e1601037",
                 "term_stats": "d3224c1ab8fbb66c5b21d72a7c874f65",
                 "lineage": "b6c89af05c2bcecf0a004f0ac601171c"},
    (False, 2): {"postings": "599c5266a58a7a86b66f3749c5e4cd11",
                 "docmap": "991d33ae92d74582f76cae959f4fc756",
                 "term_stats": "d3224c1ab8fbb66c5b21d72a7c874f65",
                 "lineage": "10fae8fdc58bb3713a2fa503b880b323"},
    (True, 1): {"postings": "f33d21ad0a501fadf8de7d6e2362f9f2",
                "docmap": "012329c9a40efc2b43ec035391b673a6",
                "term_stats": "d3224c1ab8fbb66c5b21d72a7c874f65",
                "lineage": "f259d5209d8158580ba0a5cf0cb04653"},
    (True, 2): {"postings": "f7f234f2d49d789a0fcf25d945649fe4",
                "docmap": "6e4df8d46f35407825f04dcc6a9a8fdf",
                "term_stats": "d3224c1ab8fbb66c5b21d72a7c874f65",
                "lineage": "27211a7733f579cc7002ca371111a81f"},
}


@pytest.fixture(scope="module")
def multichunk_deleted_indexes(spark, tmp_path_factory):
    """A stacking and a sorted index over the same 600 docs, with
    ``chunk_docs=160`` (multi-chunk posting lists and sentinel chains,
    chunks holding a full bitpacked block plus a VInt tail) and 20
    deleted keys spread over every segment."""
    from tantivy_spark.corpus import synthetic_pages
    from tantivy_spark.index.build import IndexConfig, build_index
    from tantivy_spark.index.deletes import delete_by_keys

    pages = synthetic_pages(spark, 600, seed=41).select(
        "url", "text", F.octet_length("text").alias("tlen"))
    urls = sorted(r["url"] for r in pages.select("url").collect())
    victims = urls[::30]
    base = tmp_path_factory.mktemp("mdig")
    out = {}
    for is_sorted in (False, True):
        src = str(base / f"src_{is_sorted}")
        build_index(spark, pages, src, IndexConfig(
            key_col="url", text_col="text", n_segments=3, chunk_docs=160,
            sort_col="desc:tlen" if is_sorted else None))
        assert delete_by_keys(spark, IndexReader(spark, src),
                              victims) == len(victims)
        out[is_sorted] = src
    return out


def _sorted_rows_md5(spark, path: str) -> str:
    import hashlib

    lines = sorted(repr(tuple(bytes(v) if isinstance(v, bytearray) else v
                              for v in r))
                   for r in spark.read.parquet(path).collect())
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


@pytest.mark.parametrize("is_sorted,n_target", list(MERGED_TABLE_DIGESTS))
def test_merged_tables_are_byte_pinned(spark, multichunk_deleted_indexes,
                                       tmp_path, is_sorted, n_target):
    """Stacking and sorted merges of a multi-chunk index with deletes
    write exactly the pinned rows of every table."""
    import os

    from tantivy_spark.index.merge import merge_segments

    out = str(tmp_path / "merged")
    merge_segments(spark, multichunk_deleted_indexes[is_sorted], out,
                   n_target_segments=n_target)
    got = {t: _sorted_rows_md5(spark, os.path.join(out, t))
           for t in ("postings", "docmap", "term_stats", "lineage")}
    assert got == MERGED_TABLE_DIGESTS[(is_sorted, n_target)]
