"""Partitioned bloom filters for the URL-seen structure.

Design (north rule): the URL-seen set is sharded by host bucket; each
bucket owns a bloom payload (numpy bit array serialized to bytes)
persisted as table state. The bloom is strictly a *prefilter* that cuts
shuffle volume into the exact anti-join — the anti-join against the
exact (host_bucket, url_hash, url) table remains the authority, which
is what keeps the seen set exact (SURVEY.md §2.8).

Spark's own runtime bloom filters are join-internal and not
persistable across rounds, hence this explicit structure.

Hashing: blake2b(url) → two independent 64-bit lanes; k probe indices
are (h1 + i*h2) mod 2^64 mod m (standard double hashing, with uint64
wraparound so the whole index grid vectorizes in numpy). Deterministic
across processes (no PYTHONHASHSEED dependence) so payloads built on
one executor probe identically on another. Build and probe share
``_probe_indices`` — the single definition is what guarantees the
no-false-negative invariant; payloads are NOT portable across versions
of this module (crawl state is rebuilt per run; the periodic exact
rebuild would re-create them anyway).
"""

from __future__ import annotations

import hashlib

import numpy as np

DEFAULT_BITS_PER_KEY = 10  # ~1% fp at k=7
DEFAULT_K = 7

_LANE_I = np.arange(16, dtype=np.uint64)


def _lanes_batch(urls) -> tuple[np.ndarray, np.ndarray]:
    """blake2b lanes for a batch of urls → (h1, h2) uint64 arrays.
    The hash itself is C-speed; only the per-url dispatch is Python."""
    n = len(urls)
    h1 = np.empty(n, dtype=np.uint64)
    h2 = np.empty(n, dtype=np.uint64)
    blake2b = hashlib.blake2b
    from_bytes = int.from_bytes
    for j, u in enumerate(urls):
        d = blake2b(u.encode("utf-8"), digest_size=16,
                    person=b"urlbloom").digest()
        h1[j] = from_bytes(d[:8], "big")
        h2[j] = from_bytes(d[8:], "big") | 1
    return h1, h2


def _probe_indices(urls, m_bits: int, k: int) -> np.ndarray:
    """(n, k) uint64 probe-index grid — the one definition both build
    and probe use (false-negative freedom = build/probe agreement)."""
    h1, h2 = _lanes_batch(urls)
    # uint64 arithmetic wraps mod 2^64 (numpy semantics) before % m —
    # consistent on both sides, so membership still never false-negates
    return (h1[:, None] + _LANE_I[:k][None, :] * h2[:, None]) \
        % np.uint64(m_bits)


def bloom_sizing(n_items: int, bits_per_key: int = DEFAULT_BITS_PER_KEY) -> int:
    """Bit-array size (multiple of 8, min 1024)."""
    m = max(1024, n_items * bits_per_key)
    return ((m + 7) // 8) * 8


def _set_bits(bits: np.ndarray, idx: np.ndarray) -> None:
    """OR the addressed bits into ``bits`` (LSB-first within a byte —
    bit k of byte j is global index j*8+k, the same layout
    ``bloom_might_contain``'s ``1 << (idx & 7)`` probe reads).

    Implementation: duplicate-safe boolean scatter + little-endian
    ``packbits`` — ``np.bitwise_or.at`` computes the same thing but is
    an order of magnitude slower (unbuffered per-element ufunc loop;
    measured 0.13 s for one round's ~1.3e5 probe writes vs ~5 ms
    here), and the bloom merge is on the round's critical write path."""
    bools = np.zeros(len(bits) * 8, dtype=bool)
    bools[idx.astype(np.int64).ravel()] = True
    np.bitwise_or(bits, np.packbits(bools, bitorder="little"), out=bits)


def bloom_build(urls, m_bits: int, k: int = DEFAULT_K) -> bytes:
    urls = list(urls)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if urls:
        _set_bits(bits, _probe_indices(urls, m_bits, k))
    return bits.tobytes()


def bloom_add(payload: bytes | None, urls, m_bits: int,
              k: int = DEFAULT_K) -> bytes:
    """OR new keys into an existing payload (payload=None → fresh)."""
    if payload is None or len(payload) == 0:
        return bloom_build(urls, m_bits, k)
    urls = list(urls)
    bits = np.frombuffer(payload, dtype=np.uint8).copy()
    if urls:
        _set_bits(bits, _probe_indices(urls, len(bits) * 8, k))
    return bits.tobytes()


def bloom_or(a: bytes, b: bytes) -> bytes:
    """Merge two same-sized payloads (partition-filter union)."""
    av = np.frombuffer(a, dtype=np.uint8)
    bv = np.frombuffer(b, dtype=np.uint8)
    if len(av) != len(bv):
        raise ValueError("bloom size mismatch: %d != %d" % (len(av), len(bv)))
    return np.bitwise_or(av, bv).tobytes()


def bloom_might_contain(payload: bytes, urls, k: int = DEFAULT_K) -> np.ndarray:
    """Vectorized membership test → bool array aligned with ``urls``.
    False = definitely unseen (safe to keep as fresh candidate)."""
    urls = list(urls)
    if not urls:
        return np.empty(0, dtype=bool)
    bits = np.frombuffer(payload, dtype=np.uint8)
    idx = _probe_indices(urls, len(bits) * 8, k)
    probes = (bits[(idx >> np.uint64(3)).astype(np.int64)]
              >> (idx & np.uint64(7)).astype(np.uint8)) & 1
    return probes.all(axis=1)
