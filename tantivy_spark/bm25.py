"""BM25 scoring, matching the reference's formula and float discipline.

Reference semantics (/root/reference/src/query/bm25.rs):
  idf        = ln(1 + (N - df + 0.5) / (df + 0.5))          [:52-56]
  weight     = idf * (1 + K1)                                [:158-166]
  norm(id)   = K1 * (1 - B + B * fieldnorm(id) / avg)        [:58-69]
  score      = weight * tf / (tf + norm(fieldnorm_id))       [:179-193]
  K1 = 1.2, B = 0.75                                         [:8-9]
  avg = total_num_tokens / total_num_docs across all segments [:109-111]
  max_score  = score(id=255, tf=2_013_265_944)               [:184-186]

The reference computes everything in f32.  This module provides
:class:`Bm25Params` + numpy f32 kernels for rank-identical parity (used
inside Arrow kernels and the WAND loop).  The f64 forms live with their
engines: ``query/exact.py`` builds the declarative DataFrame plan's
expression and ``oracle.py`` the DuckDB oracle's, in the same shape so
double results agree bit-for-bit up to libm ulp on ln().
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from tantivy_spark import B, K1
from tantivy_spark.fieldnorm import FIELD_NORMS_TABLE, MAX_FIELDNORM


def idf_f32(doc_freq: int, total_docs: int) -> np.float32:
    x = (np.float32(total_docs - doc_freq) + np.float32(0.5)) / (
        np.float32(doc_freq) + np.float32(0.5)
    )
    return np.float32(np.log(np.float32(1.0) + x, dtype=np.float32))


def tf_cache_f32(average_fieldnorm: float) -> np.ndarray:
    """256-entry cache: K1*(1-B+B*norm/avg) per fieldnorm id, float32."""
    norms = FIELD_NORMS_TABLE.astype(np.float32)
    avg = np.float32(average_fieldnorm)
    return (np.float32(K1) * (np.float32(1.0 - B) + np.float32(B) * norms / avg)).astype(
        np.float32
    )


@dataclass
class Bm25Params:
    """Per-term baked weight + shared norm cache (analogue of Bm25Weight)."""

    weight: np.float32          # idf * (1+K1) [* boost]
    cache: np.ndarray           # float32[256]

    @classmethod
    def for_one_term(cls, doc_freq: int, total_docs: int, avg_fieldnorm: float,
                     boost: float = 1.0) -> "Bm25Params":
        w = idf_f32(doc_freq, total_docs) * np.float32(1.0 + K1)
        if boost != 1.0:
            w = np.float32(w * np.float32(boost))
        return cls(weight=np.float32(w), cache=tf_cache_f32(avg_fieldnorm))

    @classmethod
    def for_terms(cls, doc_freqs: list[int], total_docs: int, avg_fieldnorm: float,
                  boost: float = 1.0) -> "Bm25Params":
        """Phrase / multi-term weight: idf summed over terms (bm25.rs:120-128)."""
        idf_sum = np.float32(0.0)
        for df in doc_freqs:
            idf_sum = np.float32(idf_sum + idf_f32(df, total_docs))
        w = np.float32(idf_sum * np.float32(1.0 + K1))
        if boost != 1.0:
            w = np.float32(w * np.float32(boost))
        return cls(weight=w, cache=tf_cache_f32(avg_fieldnorm))

    def score(self, fieldnorm_ids: np.ndarray, tfs: np.ndarray) -> np.ndarray:
        """Vectorized f32 scores for aligned (fieldnorm_id, tf) arrays."""
        tf = np.asarray(tfs, dtype=np.float32)
        norm = self.cache[np.asarray(fieldnorm_ids, dtype=np.int64)]
        return (self.weight * (tf / (tf + norm))).astype(np.float32)

    def max_score(self) -> np.float32:
        return self.score(np.array([255]), np.array([MAX_FIELDNORM]))[0]

    def block_max_score(self, wand_fieldnorm_ids: np.ndarray, wand_tfs: np.ndarray) -> np.ndarray:
        """Upper-bound scores for blocks from stored (fieldnorm_id, capped tf)."""
        return self.score(wand_fieldnorm_ids, wand_tfs)
