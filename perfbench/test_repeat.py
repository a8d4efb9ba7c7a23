"""Exact-repeat checks of the benchmark itself.

Counts that load cannot change must repeat exactly for one seed, and a
different seed must change the inputs but not the metric names.  Runs
three traced ``search`` runs (about a minute each):

    python3 -m pytest perfbench/test_repeat.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

#: per-layer metrics that are counts of work, not times
EXACT = ("build.posting_rows", "build.postings_bytes", "index.bytes.postings",
         "index.bytes.docmap", "index.bytes.term_stats", "build.jobs",
         "merge.jobs")


def _traced_run(seed: int) -> tuple[dict, dict]:
    """(result line, span file) of one traced search run."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search",
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, ".work", "spans",
                           f"search-seed{seed}.json")) as f:
        spans = json.load(f)
    return result, spans


@pytest.fixture(scope="module")
def runs():
    return {"a": _traced_run(3), "b": _traced_run(3), "other": _traced_run(4)}


def _query_counts(spans: dict) -> dict:
    """(shape, query) -> (jobs, stages) of the workload's own queries."""
    return {(s["shape"], s["query"]): (s["jobs"], s["stages"])
            for s in spans["spans"]
            if s["name"] == "searcher" and "source" not in s}


def test_runs_are_correct(runs):
    for result, _spans in runs.values():
        assert result["correct"] and result["failed"] == 0


def test_counts_repeat_for_one_seed(runs):
    (ra, sa), (rb, sb) = runs["a"], runs["b"]
    for name in EXACT:
        assert ra["metrics"][name]["value"] == rb["metrics"][name]["value"], name
    qa, qb = _query_counts(sa), _query_counts(sb)
    shared = qa.keys() & qb.keys()
    assert shared
    assert {k: qa[k] for k in shared} == {k: qb[k] for k in shared}


def test_other_seed_changes_inputs_not_names(runs):
    (ra, sa), (ro, so) = runs["a"], runs["other"]
    assert set(ra["metrics"]) == set(ro["metrics"])
    assert ra["metrics"]["index.bytes.postings"] != ro["metrics"]["index.bytes.postings"]
    assert set(_query_counts(sa)) != set(_query_counts(so))


def test_stream_is_a_function_of_the_seed():
    def first(seed):
        stream = inputs.search_stream(seed)
        return [next(stream) for _ in range(32)]

    assert first(5) == first(5)
    assert first(5) != first(6)
    shapes = [s for s, _q in first(5)]
    assert shapes == [s for s, _q in first(6)]
    for r in range(0, 32, inputs.ROUND):
        heavy = [s for s in shapes[r:r + inputs.ROUND]
                 if s not in inputs.LIGHT_SHAPES]
        assert len(heavy) == 1
