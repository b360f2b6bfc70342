"""MinHash + LSH banding over caption word-shingles — pure numpy.

Shared by the oracle and the Spark pandas_udf so band hashes agree
bit-exactly (the near-dup rejection must mirror the reference's minhash
dedup deterministically — BASELINE.json north_star).

Design:
- tokens: lowercase, whitespace split.
- shingles: 3-word shingles (a caption shorter than 3 words is one
  shingle of itself).
- shingle → uint64 via blake2b(digest_size=8) (C-accelerated inside the
  Arrow batch; the numpy path below is the vectorized hot loop).
- k = 64 permutations h_j(x) = a_j * x + b_j  (mod 2^64), a_j odd —
  multiplication by an odd constant is a bijection on Z_2^64, a valid
  permutation family for MinHash.
- bands: 16 bands × 4 rows; band hash mixes the 4 sig values with a
  uint64 polynomial (vectorized, deterministic).

θ = 0.8 Jaccard with b=16, r=4 → collision prob 1-(1-0.8^4)^16 ≈ 0.9997.
"""

from __future__ import annotations

import hashlib

import numpy as np

K = 64
BANDS = 16
ROWS = K // BANDS
_MIX = np.uint64(0x9E3779B97F4A7C15)

_rng = np.random.default_rng(20260816)
_A = (_rng.integers(1, 2**63, size=K, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
_B = _rng.integers(0, 2**63, size=K, dtype=np.uint64)


def shingles(caption: str) -> list[str]:
    words = caption.lower().split()
    if len(words) < 3:
        return [" ".join(words)] if words else [""]
    return [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]


def _hash_shingle(s: str) -> int:
    return int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little")


def shingle_hashes(caption: str) -> np.ndarray:
    return np.array([_hash_shingle(s) for s in shingles(caption)], dtype=np.uint64)


def signature_flat(flat_hashes: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Vectorized MinHash for a batch.

    flat_hashes: concatenated shingle hashes of all rows (uint64).
    offsets: start index per row (len = n_rows), rows contiguous.
    Returns (n_rows, K) uint64 signature matrix.
    Uses np.minimum.reduceat per permutation — no per-row Python.
    """
    n = len(offsets)
    out = np.empty((n, K), dtype=np.uint64)
    if len(flat_hashes) == 0:
        out[:] = np.uint64(0xFFFFFFFFFFFFFFFF)
        return out
    with np.errstate(over="ignore"):
        for j in range(K):
            vals = _A[j] * flat_hashes + _B[j]
            out[:, j] = np.minimum.reduceat(vals, offsets)
    return out


def band_hashes(sig: np.ndarray) -> np.ndarray:
    """(n, K) signatures → (n, BANDS) uint64 band keys."""
    n = sig.shape[0]
    out = np.zeros((n, BANDS), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for b in range(BANDS):
            acc = np.full(n, np.uint64(b + 1), dtype=np.uint64)
            for r in range(ROWS):
                acc = acc * _MIX + sig[:, b * ROWS + r]
            out[:, b] = acc
    return out


def caption_band_hashes(captions: list[str]) -> np.ndarray:
    """captions → (n, BANDS) uint64 band keys (batch API)."""
    per_row = [shingle_hashes(c) for c in captions]
    lens = np.array([len(h) for h in per_row], dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    flat = np.concatenate(per_row) if per_row else np.array([], dtype=np.uint64)
    sig = signature_flat(flat, offsets)
    return band_hashes(sig)


def jaccard3(a: str, b: str) -> float:
    """Exact Jaccard over 3-word shingles — the verification residual
    behind the LSH candidate join (keeps the graded decision exact)."""
    sa, sb = set(shingles(a)), set(shingles(b))
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)
