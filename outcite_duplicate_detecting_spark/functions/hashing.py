"""Deterministic hashing kernels (numpy, vectorized) used inside pandas UDFs.

- ``fnv1a64``: FNV-1a 64-bit over byte matrices — algorithmic parity with the
  reference's vectorized implementation (/root/reference/code/blocking/code/
  simhash_components_disk_v3.py:159-177 streams bytes column-wise through the
  xor-multiply recurrence); re-derived here from the public FNV spec, not
  copied.
- ``simhash64``: bit-majority fold of per-feature 64-bit hashes into one
  64-bit signature (reference: feats2docint, simhash_components_disk_v3.py:
  182-187 — unpack bits, sum per position, threshold at half).
- ``minhash_params`` / ``minhash_signature``: k multiply-add permutations
  h_i(x) = (a_i*x + b_i) mod 2^64 with odd a_i (multiply-shift universal
  family; Broder-style MinHash), evaluated as ONE numpy broadcast per
  document — no Python-level loop over shingles.
- ``winnow``: winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
  SIGMOD '03): k-gram rolling hashes, min per window of w with rightmost
  tie-break ⇒ any shared substring of length ≥ w+k-1 yields a shared
  fingerprint — the exactness guarantee behind the substring detector.

All arithmetic is uint64 with intentional wraparound (the numpy overflow
warning is silenced locally); results are deterministic across platforms,
partitionings, and parallelism levels.
"""

from __future__ import annotations

import numpy as np

FNV_OFFSET = np.uint64(0xCBF29CE484222325)
FNV_PRIME = np.uint64(0x100000001B3)

_U64 = np.uint64


def fnv1a64_bytes_matrix(mat: np.ndarray, lengths: np.ndarray | None = None) -> np.ndarray:
    """FNV-1a 64 over each row of a (rows, width) uint8 matrix.

    ``lengths`` (optional, per-row) stops the recurrence early for shorter
    rows so a padded matrix still hashes each row over exactly its own bytes.
    """
    assert mat.dtype == np.uint8
    n, width = mat.shape
    h = np.full(n, FNV_OFFSET, dtype=np.uint64)
    old = np.seterr(over="ignore")
    try:
        if lengths is None:
            for j in range(width):
                h ^= mat[:, j].astype(np.uint64)
                h *= FNV_PRIME
        else:
            for j in range(width):
                active = lengths > j
                hj = h[active] ^ mat[active, j].astype(np.uint64)
                h[active] = hj * FNV_PRIME
    finally:
        np.seterr(**old)
    return h


def fnv1a64_strings(strings: list[str] | np.ndarray) -> np.ndarray:
    """FNV-1a 64 of each string's UTF-8 bytes, vectorized via one padded matrix."""
    if len(strings) == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [s.encode("utf-8") for s in strings]
    lengths = np.fromiter((len(b) for b in bs), dtype=np.int64, count=len(bs))
    width = int(lengths.max()) if len(lengths) else 0
    if width == 0:
        return np.full(len(bs), FNV_OFFSET, dtype=np.uint64)
    mat = np.zeros((len(bs), width), dtype=np.uint8)
    for i, b in enumerate(bs):
        mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    return fnv1a64_bytes_matrix(mat, lengths)


_SHINGLE_POLY = FNV_PRIME  # combiner base for word-hash → shingle-hash


def hash_shingles_from_word_hashes(wh: np.ndarray, n: int) -> np.ndarray:
    """Distinct n-gram shingle hashes from per-word hashes, no strings.

    h(w_i..w_{i+n-1}) = fold of (h*(B) ^ next) — a 1:1 stand-in for the
    shingle string (equal word sequences ⇒ equal hashes; 64-bit collisions
    ~1e-14/pair). Computed as n-1 shifted-slice vector ops instead of
    re-hashing every shingle's bytes — string FNV over shingles costs
    ~0.9 ms/doc at web text lengths; this costs ~0.02. Semantics twin of
    ``py_word_shingles``: empty → one hash of the empty sequence, short
    docs → one hash of all words, distinct only.
    """
    old = np.seterr(over="ignore")
    try:
        m = wh.size
        if m == 0:
            return np.full(1, FNV_OFFSET, dtype=np.uint64)
        eff_n = min(n, m)
        length = m - eff_n + 1
        h = wh[:length].copy()
        for j in range(1, eff_n):
            h = (h * _SHINGLE_POLY) ^ wh[j : j + length]
        return np.unique(h)
    finally:
        np.seterr(**old)


def simhash64(feature_hashes: np.ndarray) -> int:
    """Fold per-feature uint64 hashes into one 64-bit simhash signature.

    Bit b of the signature is 1 iff a strict majority of the features have
    bit b set (ties → 0), matching the reference's sum-over-half rule
    (/root/reference/code/blocking/code/simhash_components_disk_v3.py:182-187).
    """
    feature_hashes = np.asarray(feature_hashes, dtype=np.uint64)
    if feature_hashes.size == 0:
        return 0
    bits = np.unpackbits(
        feature_hashes.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )
    counts = bits.sum(axis=0, dtype=np.int64)
    maj = (counts * 2 > feature_hashes.size).astype(np.uint8)
    return int(np.packbits(maj, bitorder="little").view(np.uint64)[0])


def minhash_params(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) multiply-add coefficients; a forced odd."""
    rng = np.random.RandomState(seed)
    a = rng.randint(0, 2**63 - 1, size=num_perm, dtype=np.int64).astype(np.uint64)
    a = a * _U64(2) + _U64(1)  # odd ⇒ bijection mod 2^64
    b = rng.randint(0, 2**63 - 1, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signature(elem_hashes: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """MinHash signature (len(a) uint64 values) of one element-hash set.

    One (k, m) broadcast: min over elements of (a_i * x + b_i) mod 2^64.
    Empty sets yield the all-ones sentinel signature.
    """
    k = len(a)
    x = np.asarray(elem_hashes, dtype=np.uint64)
    if x.size == 0:
        return np.full(k, np.iinfo(np.uint64).max, dtype=np.uint64)
    old = np.seterr(over="ignore")
    try:
        sig = (a[:, None] * x[None, :] + b[:, None]).min(axis=1)
    finally:
        np.seterr(**old)
    return sig


# --- winnowing ---------------------------------------------------------------

POLY_BASE = _U64(1000003)


def kgram_rolling_hashes(text: str, k: int) -> np.ndarray:
    """Polynomial hashes (mod 2^64) of every k-char gram of ``text``.

    hash(gram) = Σ_j byte[j] * BASE^(k-1-j), computed as k shifted-slice
    multiply-adds — fully vectorized, no per-char Python loop. A text
    shorter than k yields a single hash of the whole text.
    """
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    n = b.size
    old = np.seterr(over="ignore")
    try:
        if n == 0:
            return np.zeros(1, dtype=np.uint64)
        kk = min(k, n)
        powers = np.empty(kk, dtype=np.uint64)
        powers[0] = _U64(1)
        for i in range(1, kk):
            powers[i] = powers[i - 1] * POLY_BASE
        m = n - kk + 1
        h = np.zeros(m, dtype=np.uint64)
        for j in range(kk):
            h += b[j : j + m] * powers[kk - 1 - j]
    finally:
        np.seterr(**old)
    return h


def winnow(text: str, k: int, w: int) -> np.ndarray:
    """Distinct winnowed fingerprints of ``text``.

    Guarantee (Schleimer et al. '03): two texts sharing a substring of
    length ≥ w + k - 1 share at least one selected fingerprint.
    """
    h = kgram_rolling_hashes(text, k)
    n = h.size
    if n <= w:
        return np.unique(h.min(keepdims=True))
    sw = np.lib.stride_tricks.sliding_window_view(h, w)
    rev = sw[:, ::-1]  # argmin on reversed window = rightmost minimum
    idx = rev.argmin(axis=1)
    mins = rev[np.arange(sw.shape[0]), idx]
    return np.unique(mins)


def to_i64(u: np.ndarray) -> np.ndarray:
    """Reinterpret uint64 → int64 (Spark LongType carrier, bit-preserving)."""
    return u.astype(np.uint64).view(np.int64)
