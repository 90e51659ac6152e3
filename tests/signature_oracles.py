"""Per-document reference implementations of the minhash and simhash
signatures. The shipped kernels (``linking._batch_signatures_from_sets``,
``dedup._simhash_batch``) work on whole batches in blocks; these one-doc-
at-a-time forms state the definitions directly and are the oracles the
tests hold the kernels to, bit for bit."""

import hashlib

import numpy as np

from textchunking_and_knowledgegraph_spark.operators.dedup import (
    _ASCII_LOWER_TAB,
    _ASCII_WS,
)
from textchunking_and_knowledgegraph_spark.operators.linking import _P


def _md5_head(s: str) -> int:
    return int.from_bytes(
        hashlib.md5(s.encode(), usedforsecurity=False).digest()[:8], "big"
    )


def minhash_signature(grams: set[str], a: np.ndarray, b: np.ndarray) -> list[int]:
    """Minhash of one shingle set: per permutation i, the minimum over the
    grams of ((a_i * (h mod P)) mod P + b_i) mod P with h = md5 head >> 3
    (int64 wrap-around in the product); the empty set is all zeros."""
    if not grams:
        return [0] * len(a)
    base = np.fromiter(
        (_md5_head(g) >> 3 for g in grams), dtype=np.int64, count=len(grams)
    )
    vals = (a[:, None] * (base[None, :] % _P)) % _P
    vals = (vals + b[:, None]) % _P
    return vals.min(axis=1).tolist()


def _word_signbits(w: str) -> np.ndarray:
    h = np.uint64(_md5_head(w))
    bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    return np.where(bits == 1, np.int64(1), np.int64(-1))


def simhash64(text: str) -> int:
    """64-bit simhash of one text over ASCII-case-folded, ASCII-whitespace
    split words (multiplicity votes), offset by -2^63 into the signed range;
    the empty text is -2^63."""
    words = [
        w
        for w in _ASCII_WS.split((text or "").translate(_ASCII_LOWER_TAB))
        if w
    ]
    if not words:
        return -(1 << 63)
    acc = np.sum([_word_signbits(w) for w in words], axis=0)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out - (1 << 63)
