"""Quantized fieldnorm codec.

tantivy stores each document's per-field token count ("fieldnorm") as a
single byte: values below an identity threshold are exact, larger values
are quantized onto an exponential grid with a 3-bit mantissa
(ref semantics: /root/reference/src/fieldnorm/code.rs:1-270 — the 256-entry
table there is exactly the closed-form decode below; we *generate* the
table from the closed form rather than transcribing it).

BM25 scores must be computed from the quantized value to be
rank-identical with the reference.
"""

from __future__ import annotations

import numpy as np

_IDENTITY_PART = 24


def _decode_exp_part(b: int) -> int:
    bits = b & 0b0000_0111
    shift = b >> 3
    if shift == 0:
        return bits
    return (bits | 8) << (shift - 1)


def _decode_byte(b: int) -> int:
    if b < _IDENTITY_PART:
        return b
    return _IDENTITY_PART + _decode_exp_part(b - _IDENTITY_PART)


#: FIELD_NORMS_TABLE[id] = exact token count that fieldnorm id `id` decodes to.
FIELD_NORMS_TABLE: np.ndarray = np.array(
    [_decode_byte(i) for i in range(256)], dtype=np.int64
)

#: Largest representable fieldnorm (id 255).
MAX_FIELDNORM = int(FIELD_NORMS_TABLE[255])


def fieldnorm_to_id(num_tokens) -> np.ndarray:
    """Vectorized token-count -> fieldnorm id (u8).

    Semantics: the id of the largest table entry <= num_tokens
    (ref: fieldnorm_to_id, code.rs:7-11).
    """
    arr = np.asarray(num_tokens, dtype=np.int64)
    ids = np.searchsorted(FIELD_NORMS_TABLE, arr, side="right") - 1
    return ids.astype(np.uint8)


def id_to_fieldnorm(ids) -> np.ndarray:
    """Vectorized fieldnorm id -> decoded token count."""
    return FIELD_NORMS_TABLE[np.asarray(ids, dtype=np.int64)]


def quantize_fieldnorm(num_tokens) -> np.ndarray:
    """Vectorized decoded-quantized fieldnorm: table[fieldnorm_to_id(n)]."""
    return FIELD_NORMS_TABLE[fieldnorm_to_id(num_tokens)]


# Closed form of the quantization grid (equivalent to the table, proven by
# test_fieldnorm.py): for n < 40 the value is exact; otherwise with
# y = n - 24 and k = floor(log2(y)) - 3 the quantized value is
# 24 + floor(y / 2^k) * 2^k, clamped to MAX_FIELDNORM.
# This renders as pure arithmetic in any SQL engine (no 256-row join).

def _sql_closed_form(n: str) -> str:
    y = f"(({n}) - 24)"
    k = f"greatest(floor(log2({y})) - 3, 0)"
    grid = f"24 + floor({y} / pow(2, {k})) * pow(2, {k})"
    return (
        f"CAST(CASE WHEN ({n}) < 40 THEN ({n}) "
        f"ELSE least({grid}, {MAX_FIELDNORM}) END AS BIGINT)"
    )


def sql_quantize_fieldnorm(num_tokens_expr: str) -> str:
    """SQL expression (valid in both Spark SQL and DuckDB) computing the
    decoded quantized fieldnorm for a token count."""
    return _sql_closed_form(num_tokens_expr)
