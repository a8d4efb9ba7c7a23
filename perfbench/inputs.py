"""Seeded inputs: the corpus, the query stream and the ingest plan.

Everything here is a pure function of the workload seed.  The engine
receives only what these functions produce.
"""

from __future__ import annotations

import random

#: hot terms of ``corpus.synthetic_pages``: its Zipf ranks 1-12.  Rank 0
#: ("the", several times hotter than rank 1) is left out, so that the
#: cost of a query depends little on which head terms the seed picks.
HEAD = "of and to a in is was for on that with as".split()
#: the hottest of them, for the heavy shapes
HOT = HEAD[:8]
#: rare terms of the same generator (each a small share of the mass)
TAIL = [f"{p}{i:03d}" for p in ("zeta", "quark", "nimbus", "vortex", "ember",
                                "lattice", "crypt", "fjord")
        for i in range(40)]

#: one round of the search stream: three light queries (WAND) then one
#: heavy one (exact path).  The light slots cycle through LIGHT_SHAPES and
#: the heavy slot through HEAVY_SHAPES, so every round has the same
#: light/heavy split and the first rounds have the same shapes at any seed
LIGHT_SHAPES = ("term_head", "term_tail", "or", "or", "and", "term_head")
HEAVY_SHAPES = ("phrase", "bool_not", "count")
ROUND_LIGHT = 3
ROUND = ROUND_LIGHT + 1


def corpus(spark, n_docs: int, seed: int):
    """``synthetic_pages`` plus an integer ``doc_id`` equal to the row id.
    The key (url) is zero-padded, so key order equals doc_id order — the
    DocAddress convention of the DuckDB oracle."""
    from pyspark.sql import functions as F

    from tantivy_spark.corpus import synthetic_pages

    return (synthetic_pages(spark, n_docs, seed=seed)
            .withColumn("doc_id", F.substring("url", -12, 12).cast("long"))
            .select("doc_id", "url", "text"))


def _light(rng: random.Random, shape: str) -> str:
    if shape == "term_head":
        return rng.choice(HEAD)
    if shape == "term_tail":
        return rng.choice(TAIL)
    if shape == "or":
        terms = rng.sample(HEAD, rng.randint(1, 2)) + [rng.choice(TAIL)]
        rng.shuffle(terms)
        return " ".join(terms)
    # and: head + head or head + tail
    other = rng.choice(HEAD + TAIL)
    head = rng.choice([h for h in HEAD if h != other])
    return f"+{head} +{other}"


def _heavy(rng: random.Random, shape: str) -> str:
    if shape == "phrase":
        a, b = rng.sample(HOT, 2)
        return f'"{a} {b}"'
    # bool_not and count share the mixed MUST/SHOULD/MUST_NOT shape
    must, must_not = rng.sample(HOT, 2)
    return f"+{must} {rng.choice(TAIL)} -{must_not}"


def search_stream(seed: int):
    """Endless stream of (shape, query string) in rounds of ROUND_LIGHT
    light queries and one heavy one.  The ``count`` shape is run as a
    count, every other shape as a top-10 search."""
    rng = random.Random(seed)
    light_i = heavy_i = 0
    while True:
        for _ in range(ROUND_LIGHT):
            shape = LIGHT_SHAPES[light_i % len(LIGHT_SHAPES)]
            light_i += 1
            yield shape, _light(rng, shape)
        shape = HEAVY_SHAPES[heavy_i % len(HEAVY_SHAPES)]
        heavy_i += 1
        yield shape, _heavy(rng, shape)


def recrawl_ids(seed: int, n_committed: int, share: float) -> list[int]:
    """About ``share`` of the committed doc ids (0..n_committed-1), each
    once, to be deleted by key and re-added in one commit."""
    rng = random.Random(seed)
    return sorted(rng.sample(range(n_committed), max(1, int(n_committed * share))))
