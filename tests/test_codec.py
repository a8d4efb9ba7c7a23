import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tantivy_spark.index import codec


@given(st.lists(st.integers(0, 2**31 - 1), max_size=300))
def test_vint_roundtrip(vals):
    v = np.array(vals, dtype=np.uint32)
    assert np.array_equal(codec.vint_decode(codec.vint_encode(v), len(v)), v)


@given(st.integers(0, 32), st.integers(0, 400), st.integers(0, 2**32 - 1))
def test_bitpack_roundtrip(width, n, seed):
    rng = np.random.default_rng(seed)
    hi = (1 << width) if width else 1
    v = rng.integers(0, hi, size=n).astype(np.uint32)
    assert np.array_equal(codec.bitunpack(codec.bitpack(v, width), width, n), v)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(1, 2000),
    st.integers(0, 2**32 - 1),
)
def test_postings_roundtrip(n, seed):
    rng = np.random.default_rng(seed)
    gaps = rng.zipf(1.3, size=n).clip(1, 10**6).astype(np.int64)
    docs = np.cumsum(gaps) - 1
    tfs = rng.zipf(1.6, size=n).clip(1, 10**5).astype(np.int64)
    fns = rng.integers(0, 256, size=n).astype(np.uint8)
    db, tb, fb, meta = codec.encode_postings(docs, tfs, fns)
    d2, t2 = codec.decode_postings(db, tb, meta)
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(codec.decode_fns(fb), fns)
    # the decode reads only (last_doc, n_docs, bits_doc, bits_tf)
    d4, t4 = codec.decode_postings(db, tb, [m[:4] for m in meta])
    assert np.array_equal(d4, docs) and np.array_equal(t4, tfs)
    # blocks: full blocks bitpacked, tail vint
    assert sum(m[1] for m in meta) == n
    assert all(m[1] == 128 for m in meta[:-1])


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 60), st.integers(0, 2**32 - 1))
def test_positions_roundtrip(ndocs, seed):
    rng = np.random.default_rng(seed)
    tfs = rng.integers(1, 9, size=ndocs)
    flats = [np.sort(rng.choice(5000, size=tf, replace=False)) for tf in tfs]
    flat = np.concatenate(flats)
    out = codec.decode_positions(codec.encode_positions(flat, tfs), tfs)
    assert np.array_equal(out, flat)


def test_blockmax_pair_is_upper_bound():
    """The stored (fieldnorm_id, capped tf) pair must upper-bound every
    in-block score (ref semantics: serializer.rs:404-428)."""
    from tantivy_spark.bm25 import Bm25Params, tf_cache_f32

    rng = np.random.default_rng(7)
    docs = np.cumsum(rng.integers(1, 50, size=500)) - 1
    tfs = rng.integers(1, 40, size=500).astype(np.int64)
    fns = rng.integers(0, 200, size=500).astype(np.uint8)
    cache = tf_cache_f32(35.0)
    _, _, _, meta = codec.encode_postings(docs, tfs, fns, cache)
    params = Bm25Params.for_one_term(500, 10_000, 35.0)
    off = 0
    for last_doc, n, _bd, _bt, wfn, wtf in meta:
        blk_scores = params.score(fns[off:off + n], tfs[off:off + n])
        bound = params.score(np.array([wfn]), np.array([wtf]))[0]
        assert (blk_scores <= bound + 1e-6).all()
        off += n


def test_codec_bytes_are_format_pinned():
    """On-disk format compatibility (the reference pins index formats via
    compat_tests.rs + tests/compat_tests_data): the exact bytes produced
    for a fixed posting list must never change without a version bump."""
    import hashlib

    import numpy as np

    from tantivy_spark.bm25 import tf_cache_f32
    from tantivy_spark.index import codec

    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(500_000, size=4096, replace=False))
    tfs = rng.integers(1, 50, size=4096)
    fns = rng.integers(0, 255, size=4096)
    cache = tf_cache_f32(10.0)
    db, tb, fb, meta = codec.encode_postings(docs, tfs, fns, cache)
    digest = hashlib.md5(
        db + tb + fb + repr(meta).encode()).hexdigest()
    # pinned for index format version 1 — a change here is a format break
    assert digest == PINNED_FORMAT_V1_DIGEST, digest


PINNED_FORMAT_V1_DIGEST = "271fd2d3cd9f60400e75b1c24fdd39e6"


def test_encode_decode_randomized_roundtrip():
    """300 random posting lists (mixed lengths, with/without the BM25
    block-max cache) survive encode->decode bit-exactly — covers the
    bulk (per-distinct-width) encode/decode paths and the VInt tail."""
    import numpy as np

    from tantivy_spark.bm25 import tf_cache_f32
    from tantivy_spark.index import codec

    rng = np.random.default_rng(11)
    cache = tf_cache_f32(40.0)
    for trial in range(300):
        n = int(rng.integers(1, 3000))
        docs = np.cumsum(rng.integers(1, 60, n))
        tfs = rng.integers(1, 300, n)
        fns = rng.integers(0, 256, n).astype(np.uint8)
        tc = cache if trial % 2 == 0 else None
        db, tb, _fb, meta = codec.encode_postings(docs, tfs, fns, tc)
        d2, t2 = codec.decode_postings(db, tb, meta)
        assert np.array_equal(d2, docs) and np.array_equal(t2, tfs), trial
        # the scalar fallback decodes the same bytes identically
        rows = [(int(l), int(n_), int(bd), int(bt))
                for l, n_, bd, bt, _f, _t in meta]
        d3, t3 = codec._decode_postings_scalar(db, tb, rows)
        assert np.array_equal(d3, docs) and np.array_equal(t3, tfs), trial


@pytest.mark.parametrize("n", [300, 40], ids=["bitpacked", "vint-tail"])
def test_corrupt_last_doc_raises_on_both_decode_paths(n):
    """A block whose stored last_doc disagrees with its decoded doc ids
    is rejected by the bulk decoder and by the per-block fallback alike
    (an explicit raise, which ``python -O`` does not strip)."""
    docs = np.arange(0, 3 * n, 3)
    db, tb, _fb, meta = codec.encode_postings(docs, np.ones(n, np.int64),
                                              np.zeros(n, np.uint8))
    bad = [(m[0] + 1,) + tuple(m[1:]) if i == 0 else m
           for i, m in enumerate(meta)]
    with pytest.raises(AssertionError, match="last_doc"):
        codec.decode_postings(db, tb, bad)
    with pytest.raises(AssertionError, match="last_doc chain mismatch"):
        codec._decode_postings_scalar(db, tb, [m[:4] for m in bad])
