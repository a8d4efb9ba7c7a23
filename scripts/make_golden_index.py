"""Generate the committed golden-index compat artifact (run ONCE per
format version; the artifact is committed so later rounds OPEN it
instead of rebuilding — the analogue of the reference's
tests/compat_tests_data/index_v6,v7 + src/compat_tests.rs:1-40).

Rebuilding here after a deliberate format bump: bump the version
handling in reader.py first, write a NEW index_v{N} directory, and keep
the old one so both eras stay covered.

``ROWS``/``DF_SCHEMA``/``CONFIG`` are importable without side effects:
tests/test_compat_golden_index.py rebuilds the same corpus and checks
that a fresh build still writes the committed rows.
"""
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tantivy_spark.index.build import IndexConfig, build_index
from tantivy_spark.index.reader import IndexReader
from tantivy_spark.query import PhraseQuery, TermQuery
from tantivy_spark.query.exact import ExactSearcher
from tantivy_spark.session import get_spark

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "tests", "goldens", "index_v1")
EXPECTED = OUT + "_expected.json"

ROWS = [
    ("doc00", 0, "the quick brown fox jumps over the lazy dog", 9),
    ("doc01", 1, "a fast scan beats a slow merge sort", 8),
    ("doc02", 2, "merge sort and quick sort trade stability for speed", 9),
    ("doc03", 3, "the dog barks at the quick red fox", 8),
    ("doc04", 4, "data pipelines scan parquet files in parallel", 7),
    ("doc05", 5, "the merge operator stacks segment doc ranges", 7),
    ("doc06", 6, "quick brown foxes are rarely lazy", 6),
    ("doc07", 7, "sort keys order the posting lists", 6),
    ("doc08", 8, "a quick merge of sorted runs", 6),
    ("doc09", 9, "scan the index not the corpus", 6),
]
DF_SCHEMA = "key STRING, num LONG, text STRING, ntok LONG"
CONFIG = IndexConfig(
    key_col="key", text_col="text", n_segments=2,
    segment_expr="pmod(num, 2)", fast_field_cols=["num"],
    compression="zstd")


def main():
    spark = get_spark("golden_index", master="local[4]", shuffle_partitions=4)
    df = spark.createDataFrame(ROWS, DF_SCHEMA)
    shutil.rmtree(OUT, ignore_errors=True)
    build_index(spark, df, OUT, CONFIG, resume=False)

    # drop non-deterministic wall-clock stage timings from the committed
    # manifest (byte-stable artifact); keep everything a reader consumes
    with open(os.path.join(OUT, "meta.json")) as f:
        manifest = json.load(f)
    for stage in manifest.get("stages", {}).values():
        stage.pop("wall_sec", None)
    with open(os.path.join(OUT, "meta.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)

    # pin expected answers AT GENERATION TIME — the compat test replays
    # these against the committed bytes without rebuilding
    s = ExactSearcher(IndexReader(spark, OUT))
    expected = {
        "term_quick_topk": [
            [r["rank"], r["key"], float(r["score"])]
            for r in s.search(TermQuery("quick"), k=5).collect()],
        "count_the": s.count(TermQuery("the")),
        "phrase_merge_sort": [
            [r["rank"], r["key"], float(r["score"])]
            for r in s.search(PhraseQuery(["merge", "sort"]), k=5).collect()],
    }
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    print("golden index written:", OUT)
    print(json.dumps(expected, indent=1))


if __name__ == "__main__":
    main()
