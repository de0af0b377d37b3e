"""Content-defined-chunk (CDC) fingerprints for the substring pass.

The north rule requires catching long *verbatim substring* duplicates that
shingle-LSH misses (a 500-char span inside an otherwise-unique page moves
whole-doc Jaccard far below threshold). A per-partition suffix array has a
cross-partition recall hole; instead we use content-defined chunking
(the winnowing/fingerprinting idea of Schleimer et al., MOSS; also used by
rsync/LBFS): chunk boundaries are chosen by the *content* (a rolling hash
over the last ``window`` bytes hitting a mask), so two documents sharing a
verbatim span of length L cut that span at identical positions regardless
of where the span sits in each document. With E[chunk] = 2^mask_bits = 64
bytes, a 500-char shared span contains ≥1 complete common chunk with
probability ≈ 1 - (switching failure only when the span holds < 1 full
chunk, vanishing for L ≥ ~3·E[chunk]).

Candidate generation is then a plain groupBy on chunk fingerprints —
embarrassingly parallel, no cross-partition coordination. Verification
(exact longest-common-substring ≥ L) happens downstream (lcs.py).

Everything is NumPy over Arrow batches; the rolling hash is ``window``
vectorized multiply-adds per document, not a per-character Python loop.
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BASE = np.uint64(1099511628211)  # FNV prime as polynomial base


def _rolling_hashes(data: np.ndarray, window: int) -> np.ndarray:
    """H[i] = sum_j data[i+j] * BASE^(window-1-j) (mod 2^64), vectorized.

    Binary-doubling ladder (round 6): H_{a+b}[i] = H_a[i]·B^b + H_b[i+a],
    exact under mod-2^64 wraparound (associativity of the polynomial),
    so window=48 costs ~7 multiply-add passes instead of 48 — measured
    3.9× on web-sized docs, bit-identical output (pinned by
    tests/test_lcs_fingerprint.py against the one-pass-per-byte shape).
    ``h`` at width w holds H_w over every start; ``acc`` accumulates the
    set bits of ``window`` (low bit first) at growing offsets."""
    n = data.shape[0]
    d64 = data.astype(np.uint64)
    with np.errstate(over="ignore"):
        h = d64  # H_1, length n
        w = 1
        acc: np.ndarray | None = None
        acc_w = 0
        rem = window
        while rem:
            pw = np.uint64(pow(int(_BASE), w, 2**64))
            if rem & 1:
                if acc is None:
                    # no copy: every doubling step rebinds h to a fresh
                    # array, so an aliased acc is never mutated
                    acc, acc_w = h, w
                else:
                    m = n - acc_w - w + 1
                    acc = acc[:m] * pw + h[acc_w : acc_w + m]
                    acc_w += w
            rem >>= 1
            if rem:
                m2 = n - 2 * w + 1
                h = h[:m2] * pw + h[w : w + m2]
                w *= 2
        return acc


def _chunk_spans(data: np.ndarray, window: int, mask_bits: int) -> list[tuple[int, int]]:
    """``(lo, hi)`` byte spans of the content-defined chunks of ``data``,
    covering it end to end; none when it is shorter than one window."""
    n = data.shape[0]
    if n < window:
        return []
    mask = np.uint64((1 << mask_bits) - 1)
    # cut AFTER the window that hit the mask: boundary at i + window
    cuts = np.flatnonzero((_rolling_hashes(data, window) & mask) == 0) + window
    bounds = [0, *cuts.tolist(), n]
    return list(zip(bounds, bounds[1:]))


def cdc_fingerprints(
    text: str | None,
    window: int = 48,
    mask_bits: int = 6,
    min_chunk: int = 24,
) -> list[int]:
    """Distinct 64-bit fingerprints of the content-defined chunks of ``text``."""
    if text is None:
        return []
    raw = text.encode("utf-8")
    data = np.frombuffer(raw, dtype=np.uint8)
    fps = {
        int.from_bytes(
            blake2b(raw[lo:hi], digest_size=8).digest(), "big", signed=True
        )
        for lo, hi in _chunk_spans(data, window, mask_bits)
        if hi - lo >= min_chunk
    }
    return sorted(fps)


def anchored_common_span_len(
    a: str,
    b: str,
    window: int = 48,
    mask_bits: int = 6,
    max_positions: int = 8,
) -> int:
    """Length (bytes) of the longest common span that contains at least one
    complete shared CDC chunk.

    The cheap exact-enough verifier for substring candidates: a pair only
    became a candidate because a complete chunk is shared, and extending
    left+right from any shared chunk recovers the *maximal* common span
    around it, so for spans >= ~3 expected chunk lengths this equals the
    true LCS with the same whp guarantee candidate generation already
    relies on. O(shared chunks × span length) instead of the suffix
    automaton's O(n+m) with large constants (~30x faster in Python).
    """
    if not a or not b:
        return 0
    da = np.frombuffer(a.encode("utf-8"), dtype=np.uint8)
    db = np.frombuffer(b.encode("utf-8"), dtype=np.uint8)
    ba, bb = da.tobytes(), db.tobytes()
    pos_a: dict[bytes, list[tuple[int, int]]] = {}
    for lo, hi in _chunk_spans(da, window, mask_bits):
        key = ba[lo:hi]
        lst = pos_a.setdefault(key, [])
        if len(lst) < max_positions:
            lst.append((lo, hi))
    best = 0
    covered: list[tuple[int, int]] = []  # b-side intervals already explained
    for lo_b, hi_b in _chunk_spans(db, window, mask_bits):
        if any(lo_c <= lo_b and hi_b <= hi_c for lo_c, hi_c in covered):
            continue
        for lo_a, hi_a in pos_a.get(bb[lo_b:hi_b], ()):
            left = 0
            while (
                lo_a - left - 1 >= 0
                and lo_b - left - 1 >= 0
                and ba[lo_a - left - 1] == bb[lo_b - left - 1]
            ):
                left += 1
            right = 0
            la, lb = len(ba), len(bb)
            while (
                hi_a + right < la
                and hi_b + right < lb
                and ba[hi_a + right] == bb[hi_b + right]
            ):
                right += 1
            span = (hi_b - lo_b) + left + right
            if span > best:
                best = span
            covered.append((lo_b - left, hi_b + right))
    return best


def cdc_fingerprints_udf(window: int, mask_bits: int, min_chunk: int):
    @F.pandas_udf(T.ArrayType(T.LongType(), False))
    def _udf(text: pd.Series) -> pd.Series:
        return text.map(lambda t: cdc_fingerprints(t, window, mask_bits, min_chunk))

    return _udf
