"""Posting-list block codec: docid-delta bitpacking + VInt tails.

Format (ours — designed for numpy vectorization, NOT the reference's
on-disk layout; reference semantics at
/root/reference/src/postings/compression/mod.rs:36-127 are: full blocks of
128 docs are delta+bitpacked, the final partial block is VInt-encoded, and
term frequencies are bitpacked as tf-1).

A posting list for one term is encoded into two byte strings plus block
metadata:

``docs_bytes`` layout, per full 128-doc block, concatenated:
    bitpacked ``delta - 1`` values (width = block_meta.bits_doc), where
    ``delta[i] = doc[i] - doc[i-1]`` and ``delta[0] = doc[0] - prev_last``
    with ``prev_last = -1`` for the first block.  Doc ids are strictly
    increasing so ``delta - 1 >= 0``.
    The final partial block (< 128 docs) is VInt(LEB128)-encoded deltas-1.

``tfs_bytes`` layout mirrors it with ``tf - 1`` values (tf >= 1).

Block metadata is one struct per block:
    (last_doc, n_docs, bits_doc, bits_tf, wand_fieldnorm_id, wand_tf)
``bits_* = 255`` marks a VInt tail block. ``wand_*`` is the
(fieldnorm_id, capped tf) pair maximizing the BM25 tf-factor within the
block — the block-max metadata driving WAND pruning
(ref semantics: src/postings/serializer.rs:404-428, skip.rs:32-43).

All encode/decode paths are pure numpy (no per-element Python loops).
"""

from __future__ import annotations

import numpy as np

from tantivy_spark import BLOCK_LEN

VINT_MARKER = 255  # bits value marking a VInt-encoded tail block


# ---------------------------------------------------------------------------
# bitpacking
# ---------------------------------------------------------------------------

def bitpack(values: np.ndarray, width: int) -> bytes:
    """Pack uint32 values into `width`-bit little-endian bitstream."""
    if width == 0:
        return b""
    v = np.ascontiguousarray(values, dtype="<u4")
    bits = np.unpackbits(v.view(np.uint8).reshape(-1, 4), axis=1, bitorder="little")
    return np.packbits(bits[:, :width].reshape(-1), bitorder="little").tobytes()


def bitunpack(buf: bytes, width: int, n: int) -> np.ndarray:
    """Inverse of :func:`bitpack` -> uint32 array of length n, read from
    the start of ``buf`` (bytes past the ``n * width`` bits are ignored)."""
    if width == 0:
        return np.zeros(n, dtype=np.uint32)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=n * width,
                         bitorder="little").reshape(n, width)
    out = np.zeros((n, 32), dtype=np.uint8)
    out[:, :width] = bits
    return np.packbits(out, axis=1, bitorder="little").view("<u4").reshape(n)


def _bit_widths(maxes: np.ndarray) -> np.ndarray:
    """Vectorized bit_length per value (uint32 range).  log2 of a float64
    is exact at powers of two and strictly below the next integer for
    2^k-1, so floor(log2(m))+1 == m.bit_length() for all 32-bit m."""
    m = np.asarray(maxes, dtype=np.int64)
    out = np.zeros(len(m), dtype=np.int64)
    nz = m > 0
    out[nz] = np.floor(np.log2(m[nz])).astype(np.int64) + 1
    return out


def _bitpack_block_rows(mat: np.ndarray, widths: np.ndarray) -> list[bytes]:
    """Bitpack each ROW of ``mat`` (uint32, shape (n_blocks, BLOCK_LEN))
    at its own width — byte-identical to calling :func:`bitpack` per row,
    but one unpackbits/packbits pass per DISTINCT width instead of one
    per block (the per-block Python loop dominated index-build time)."""
    n_blocks, blen = mat.shape
    out: list[bytes] = [b""] * n_blocks
    if n_blocks == 0:
        return out
    v = np.ascontiguousarray(mat, dtype="<u4")
    # per-value 32 little-endian bits, values contiguous within a row
    bits = np.unpackbits(v.view(np.uint8).reshape(n_blocks, blen * 4),
                         axis=1, bitorder="little").reshape(n_blocks, blen, 32)
    for w in np.unique(widths):
        w = int(w)
        if w == 0:
            continue
        sel = np.nonzero(widths == w)[0]
        sub = bits[sel, :, :w].reshape(len(sel), blen * w)
        packed = np.packbits(sub, axis=1, bitorder="little")
        row_bytes = packed.tobytes()
        stride = packed.shape[1]
        for i, b in enumerate(sel):
            out[b] = row_bytes[i * stride:(i + 1) * stride]
    return out


# ---------------------------------------------------------------------------
# VInt (LEB128), vectorized
# ---------------------------------------------------------------------------

def vint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode uint32 values.

    Two byte-identical paths: short inputs take a scalar loop (a Zipf
    vocabulary makes the TYPICAL call a 1-3 value tail, where numpy's
    fixed per-call overhead is ~40x the work — the scalar path cut the
    segment kernel's VInt share by ~4x); long inputs take the fully
    vectorized broadcast form."""
    n = len(values)
    if n == 0:
        return b""
    if n <= 64:
        out = bytearray()
        vs = values.tolist() if hasattr(values, "tolist") else values
        for x in vs:
            x = int(x)
            while x >= 0x80:
                out.append((x & 0x7F) | 0x80)
                x >>= 7
            out.append(x)
        return bytes(out)
    v = np.asarray(values, dtype=np.uint64)
    if int(v.max()) < 0x80:
        # all-small fast path (the COMMON long call: position gaps and
        # dense doc deltas are almost always < 128): LEB128 of a value
        # under 0x80 is the value byte itself — byte-identical, without
        # the n x 5 payload matrix (r8: ~10x on these calls)
        return v.astype(np.uint8).tobytes()
    # candidate 5 bytes per value (7 payload bits each)
    shifts = np.arange(0, 35, 7, dtype=np.uint64)
    payload = ((v[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    # exact byte count: value fits in k*7 bits
    nbytes = np.ones(n, dtype=np.int64)
    for k in range(1, 5):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    keep = np.arange(5)[None, :] < nbytes[:, None]
    cont = np.arange(5)[None, :] < (nbytes - 1)[:, None]
    payload = payload | (cont.astype(np.uint8) << 7)
    return payload[keep].tobytes()


def vint_decode(buf: bytes, n: int) -> np.ndarray:
    """Decode n LEB128 values from buf -> uint32 array."""
    if n == 0:
        return np.zeros(0, dtype=np.uint32)
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) >= n and not np.any(raw[:n] & 0x80):
        # all-single-byte fast path: n one-byte values decode as-is
        # (mirror of vint_encode's all-small path)
        return raw[:n].astype(np.uint32)
    is_last = (raw & 0x80) == 0
    # group id of each byte = count of terminators before it
    group = np.zeros(len(raw), dtype=np.int64)
    group[1:] = np.cumsum(is_last[:-1])
    # position within group
    starts = np.zeros(len(raw), dtype=np.int64)
    first_of_group = np.ones(len(raw), dtype=bool)
    first_of_group[1:] = group[1:] != group[:-1]
    idx = np.arange(len(raw))
    start_idx = np.maximum.accumulate(np.where(first_of_group, idx, 0))
    pos = idx - start_idx
    vals = np.zeros(n, dtype=np.uint64)
    np.add.at(vals, group, (raw & np.uint8(0x7F)).astype(np.uint64) << (7 * pos).astype(np.uint64))
    return vals.astype(np.uint32)


# ---------------------------------------------------------------------------
# posting-list encode / decode
# ---------------------------------------------------------------------------

def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, fieldnorm_ids: np.ndarray,
                    tf_cache: np.ndarray | None = None):
    """Encode one term's posting list.

    Parameters: strictly-increasing doc_ids (uint32), tfs >= 1 (uint32),
    fieldnorm_ids (uint8) aligned with doc_ids, and optionally the
    256-entry BM25 norm cache ``K1*(1-B+B*norm/avg)`` (float32) used to pick
    block-max (fieldnorm_id, tf) pairs.  Without a cache the wand pair is
    (max fieldnorm_id, max tf) — a valid (looser) upper bound.

    Returns (docs_bytes, tfs_bytes, fns_bytes, block_meta list-of-tuples).

    ``fns_bytes`` is the aligned fieldnorm-id byte per posting.  The
    reference keeps fieldnorms in a separate per-segment file
    (src/fieldnorm/); we deliberately denormalize them into the posting
    list (+1 byte/posting) so BM25 scoring is join-free in Spark — both
    the exact scorer and the WAND kernel score from a single table scan.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    n = len(doc_ids)
    deltas = np.empty(n, dtype=np.int64)
    deltas[0:1] = doc_ids[0:1] + 1  # delta vs prev_last=-1
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    dm1 = (deltas - 1).astype(np.uint32)
    tm1 = (tfs - 1).astype(np.uint32)

    fn_all = np.asarray(fieldnorm_ids, dtype=np.uint8)
    capped_all = np.minimum(tfs, 255)
    if tf_cache is not None:
        tf_f = tfs.astype(np.float32)
        factor_all = tf_f / (tf_f + tf_cache[fn_all])
    else:
        factor_all = tfs

    docs_parts: list[bytes] = []
    tfs_parts: list[bytes] = []
    meta: list[tuple] = []
    n_full = n // BLOCK_LEN
    full = n_full * BLOCK_LEN
    if n_full:
        # ALL full blocks at once: per-block widths, block-max pairs, and
        # per-distinct-width bulk bitpacking (the former per-block Python
        # loop dominated index-build wall time)
        d2 = dm1[:full].reshape(n_full, BLOCK_LEN)
        t2 = tm1[:full].reshape(n_full, BLOCK_LEN)
        wd = _bit_widths(d2.max(axis=1))
        wt = _bit_widths(t2.max(axis=1))
        j = factor_all[:full].reshape(n_full, BLOCK_LEN).argmax(axis=1)
        pick = np.arange(n_full, dtype=np.int64) * BLOCK_LEN + j
        wand_fn = fn_all[pick].astype(np.int64)
        wand_tf = capped_all[pick]
        last = doc_ids[BLOCK_LEN - 1:full:BLOCK_LEN]
        docs_parts.extend(_bitpack_block_rows(d2, wd))
        tfs_parts.extend(_bitpack_block_rows(t2, wt))
        meta.extend(zip(last.tolist(), [BLOCK_LEN] * n_full, wd.tolist(),
                        wt.tolist(), wand_fn.tolist(), wand_tf.tolist()))
    if full < n:  # VInt tail block
        j = int(np.argmax(factor_all[full:]))
        meta.append((int(doc_ids[-1]), n - full, VINT_MARKER, VINT_MARKER,
                     int(fn_all[full + j]), int(capped_all[full + j])))
        docs_parts.append(vint_encode(dm1[full:]))
        tfs_parts.append(vint_encode(tm1[full:]))
    fns_bytes = np.ascontiguousarray(fieldnorm_ids, dtype=np.uint8).tobytes()
    return b"".join(docs_parts), b"".join(tfs_parts), fns_bytes, meta


def block_offsets(n_docs, bits) -> np.ndarray:
    """Byte offset of every block in its docs (or tfs) buffer, given each
    block's posting count and bit width: a bitpacked block of ``n``
    values at width ``w`` takes ``ceil(n * w / 8)`` bytes, and the VInt
    tail (always the last block) starts after all of them."""
    n = np.asarray(n_docs, dtype=np.int64)
    b = np.asarray(bits, dtype=np.int64)
    sizes = np.where(b == VINT_MARKER, 0, (n * b + 7) // 8)
    out = np.zeros(len(n), dtype=np.int64)
    out[1:] = np.cumsum(sizes)[:-1]
    return out


def decode_fns(fns_bytes: bytes) -> np.ndarray:
    """Aligned fieldnorm ids (uint8) per posting."""
    return np.frombuffer(fns_bytes, dtype=np.uint8)


def encode_positions(flat_positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode one term's positions: ``flat_positions`` is the concatenation
    of each matching doc's sorted position list (doc order), ``tfs`` gives
    the per-doc list lengths.  Per-doc delta encoding (first position, then
    gaps), VInt'd as one stream.  Fully vectorized.
    """
    n = len(flat_positions)
    if n == 0:
        return b""
    if n <= 64:
        # scalar path for short position streams (the typical Zipf-term
        # call) — byte-identical to the vectorized form, without numpy's
        # fixed per-call overhead (same rationale as vint_encode)
        pl = flat_positions.tolist() if hasattr(flat_positions, "tolist") \
            else list(flat_positions)
        tl = tfs.tolist() if hasattr(tfs, "tolist") else list(tfs)
        out = bytearray()
        i = 0
        for tf in tl:
            prev = 0
            for j in range(i, i + int(tf)):
                x = int(pl[j]) - prev if j > i else int(pl[j])
                prev = int(pl[j])
                while x >= 0x80:
                    out.append((x & 0x7F) | 0x80)
                    x >>= 7
                out.append(x)
            i += int(tf)
        return bytes(out)
    p = np.asarray(flat_positions, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    d = np.empty(len(p), dtype=np.int64)
    d[0] = p[0]
    d[1:] = p[1:] - p[:-1]
    starts = np.cumsum(tfs)[:-1]
    d[starts] = p[starts]  # reset delta at each doc boundary
    return vint_encode(d.astype(np.uint32))


def decode_positions(pos_bytes: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` -> flat positions array; split
    per doc with ``np.split(out, np.cumsum(tfs)[:-1])`` if needed."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    d = vint_decode(pos_bytes, total).astype(np.int64)
    csum = np.cumsum(d)
    starts = np.concatenate([[0], np.cumsum(tfs)[:-1]])
    # subtract the running total accumulated before each doc's first element
    base = np.zeros(total, dtype=np.int64)
    base[starts[1:]] = csum[starts[1:] - 1]
    base = np.maximum.accumulate(base)
    return csum - base


def _bitunpack_full_blocks(buf: bytes, widths: np.ndarray,
                           offsets: np.ndarray) -> np.ndarray:
    """Decode len(widths) bitpacked FULL blocks (BLOCK_LEN values each)
    from ``buf``; block b starts at byte ``offsets[b]`` with width
    ``widths[b]``.  One unpackbits/packbits pass per DISTINCT width —
    byte-for-byte the inverse of :func:`_bitpack_block_rows`.  Returns
    values as (n_blocks, BLOCK_LEN) uint32."""
    n_blocks = len(widths)
    out = np.zeros((n_blocks, BLOCK_LEN), dtype=np.uint32)
    if n_blocks == 0:
        return out
    raw = np.frombuffer(buf, dtype=np.uint8)
    for w in np.unique(widths):
        w = int(w)
        if w == 0:
            continue
        sel = np.nonzero(widths == w)[0]
        nbytes = BLOCK_LEN * w // 8
        idx = offsets[sel][:, None] + np.arange(nbytes)[None, :]
        sub = raw[idx]                                       # (k, nbytes)
        bits = np.unpackbits(sub, axis=1, bitorder="little") \
            .reshape(len(sel), BLOCK_LEN, w)
        padded = np.zeros((len(sel), BLOCK_LEN, 32), dtype=np.uint8)
        padded[:, :, :w] = bits
        vals = np.packbits(padded.reshape(len(sel), -1), axis=1,
                           bitorder="little").view("<u4") \
            .reshape(len(sel), BLOCK_LEN)
        out[sel] = vals
    return out


def decode_postings(docs_bytes: bytes, tfs_bytes: bytes, meta) -> tuple[np.ndarray, np.ndarray]:
    """Decode a full posting list -> (doc_ids int64, tfs int64); only the
    first four fields (last_doc, n_docs, bits_doc, bits_tf) of each
    ``meta`` tuple are read.

    All bitpacked FULL blocks decode in bulk (grouped by bit width — the
    former per-block loop dominated the exhaustive query path's decode
    kernel); the single VInt tail block, if any, decodes separately.
    Per-block doc bases come from the skip metadata's ``last_doc`` chain,
    so no sequential dependency survives.
    """
    rows = [(int(m[0]), int(m[1]), int(m[2]), int(m[3])) for m in meta]
    if not rows:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    full = [r for r in rows if r[2] != VINT_MARKER]
    # encode_postings emits bitpacked blocks of exactly BLOCK_LEN docs
    # followed by at most one VInt tail; fall back to the scalar path on
    # anything else (foreign layouts)
    if any(r[1] != BLOCK_LEN for r in full) or \
            len(rows) - len(full) > 1 or \
            (rows[-1][2] != VINT_MARKER and len(full) != len(rows)):
        return _decode_postings_scalar(docs_bytes, tfs_bytes, rows)

    n_full = len(full)
    n_docs = [r[1] for r in rows]
    d_off = block_offsets(n_docs, [r[2] for r in rows])
    t_off = block_offsets(n_docs, [r[3] for r in rows])
    if n_full:
        bd = np.array([r[2] for r in full], dtype=np.int64)
        bt = np.array([r[3] for r in full], dtype=np.int64)
        dm1 = _bitunpack_full_blocks(docs_bytes, bd, d_off[:n_full])
        tm1 = _bitunpack_full_blocks(tfs_bytes, bt, t_off[:n_full])
        # per-block doc base: previous block's last_doc (-1 for the first)
        last = np.array([r[0] for r in full], dtype=np.int64)
        base = np.empty(n_full, dtype=np.int64)
        base[0] = -1
        base[1:] = last[:-1]
        docs2 = np.cumsum(dm1.astype(np.int64) + 1, axis=1) + base[:, None]
        if not np.array_equal(docs2[:, -1], last):
            raise AssertionError("decode: last_doc chain mismatch")
        docs = docs2.reshape(-1)
        tfs = (tm1.astype(np.int64) + 1).reshape(-1)
    else:
        last = np.zeros(0, dtype=np.int64)
        docs = np.zeros(0, dtype=np.int64)
        tfs = np.zeros(0, dtype=np.int64)
    if rows[-1][2] == VINT_MARKER:  # tail
        n_tail = rows[-1][1]
        dm1_t = vint_decode(docs_bytes[int(d_off[-1]):], n_tail)
        tm1_t = vint_decode(tfs_bytes[int(t_off[-1]):], n_tail)
        prev_last = int(last[-1]) if n_full else -1
        tail_docs = np.cumsum(dm1_t.astype(np.int64) + 1) + prev_last
        if int(tail_docs[-1]) != rows[-1][0]:
            raise AssertionError("decode: tail last_doc mismatch")
        docs = np.concatenate([docs, tail_docs])
        tfs = np.concatenate([tfs, tm1_t.astype(np.int64) + 1])
    return docs, tfs


def decode_block(docs_bytes: bytes, tfs_bytes: bytes, d_off: int, t_off: int,
                 n: int, bits_doc: int, bits_tf: int,
                 prev_last: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode ONE block of ``n`` postings whose doc/tf bytes start at
    ``d_off``/``t_off`` (see :func:`block_offsets`) -> (doc_ids int64,
    tfs int64); ``prev_last`` is the previous block's last doc id (-1 for
    the first block).  A VInt tail block reads to the end of the
    buffers."""
    docs_buf, tfs_buf = memoryview(docs_bytes)[d_off:], memoryview(tfs_bytes)[t_off:]
    if bits_doc == VINT_MARKER:
        dm1, tm1 = vint_decode(docs_buf, n), vint_decode(tfs_buf, n)
    else:
        dm1, tm1 = bitunpack(docs_buf, bits_doc, n), bitunpack(tfs_buf, bits_tf, n)
    return np.cumsum(dm1.astype(np.int64) + 1) + prev_last, \
        tm1.astype(np.int64) + 1


def _decode_postings_scalar(docs_bytes: bytes, tfs_bytes: bytes, rows):
    """Reference per-block decode path (kept for foreign block layouts)."""
    doc_chunks = []
    tf_chunks = []
    n_docs = [r[1] for r in rows]
    d_offs = block_offsets(n_docs, [r[2] for r in rows])
    t_offs = block_offsets(n_docs, [r[3] for r in rows])
    prev_last = -1
    for (last_doc, n, bits_doc, bits_tf), d_off, t_off in zip(rows, d_offs,
                                                              t_offs):
        docs, tfs = decode_block(docs_bytes, tfs_bytes, int(d_off),
                                 int(t_off), n, bits_doc, bits_tf, prev_last)
        prev_last = int(docs[-1])
        if prev_last != int(last_doc):
            raise AssertionError("decode: last_doc chain mismatch")
        doc_chunks.append(docs)
        tf_chunks.append(tfs)
    if not doc_chunks:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return np.concatenate(doc_chunks), np.concatenate(tf_chunks)
