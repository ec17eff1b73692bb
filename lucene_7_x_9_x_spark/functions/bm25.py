"""BM25 scoring kernel, float32-exact to the Lucene reference.

Semantics (behavior transcription, not code):
  solr-8.4.0/lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java
    :70-72   idf  = (float) ln(1 + (docCount - docFreq + 0.5)/(docFreq + 0.5))
             (computed in float64, cast to float32 once)
    :80-82   avgdl = (float)(sumTotalTermFreq / (double) docCount)
    :106-112 LENGTH_TABLE[b] = byte4ToInt(b)
    :188-191 cache[b] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[b] / avgdl))
             -- every op in float32, in this exact order
    :222-235 score(freq, norm) = weight - weight / (1 + freq * cache[norm])
             with weight = boost * idf (float32)
Multi-clause accumulation: per-clause float32 scores are summed in float64
and the sum is cast back to float32
(solr-8.4.0/.../search/DisjunctionSumScorer.java:36-43,
 ConjunctionScorer.java:56-62, WANDScorer.java:466-474).
"""

from __future__ import annotations

import numpy as np

from .smallfloat import LENGTH_TABLE

F32 = np.float32

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75


def idf(doc_freq, doc_count) -> np.float32:
    """float32 idf of one term; inputs are exact ints -> float64 math."""
    return F32(np.log1p((doc_count - doc_freq + 0.5) / (doc_freq + 0.5)))


def avgdl(sum_total_term_freq: int, doc_count: int) -> np.float32:
    return F32(sum_total_term_freq / float(doc_count))


def norm_inverse_cache(k1: float, b: float, avg_dl: np.float32) -> np.ndarray:
    """256-entry float32 cache: 1 / (k1 * ((1-b) + b * dl_b / avgdl)).

    Op order matches the reference: (b * LENGTH_TABLE[i]) / avgdl, then
    (1-b) + that, then k1 * that, then reciprocal — all float32.
    """
    k1 = F32(k1)
    b = F32(b)
    one = F32(1.0)
    t = (b * LENGTH_TABLE) / F32(avg_dl)  # float32 elementwise
    denom = k1 * ((one - b) + t)
    return (one / denom).astype(np.float32)


def score_term(freqs: np.ndarray, norm_bytes: np.ndarray, weight: np.float32,
               cache: np.ndarray) -> np.ndarray:
    """Vectorized float32 BM25: weight - weight / (1 + freq * cache[norm])."""
    freqs = freqs.astype(np.float32, copy=False)
    inv = cache[np.asarray(norm_bytes).astype(np.int64) & 0xFF]
    one = F32(1.0)
    return (weight - weight / (one + freqs * inv)).astype(np.float32)
