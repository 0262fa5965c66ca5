"""Partitioned cuckoo-filter URL-seen set — the north_rule's alternative to
the bloom filter ("partitioned bloom/cuckoo-filter URL-seen set"), sharing
bloom.py's table layout (FILTER_SCHEMA rows, one per partition generation,
``filter_kind='cuckoo'``) and its applyInArrow plumbing.

Why a second kind: a cuckoo filter supports DELETION — the seen-set can
evict a URL so a forced re-crawl flows through the normal "definitely new"
path (the BYPASS cache mode without an exact-log exception), which a bloom
filter fundamentally cannot do. Same prefilter contract: no false
negatives, small false-positive rate; correctness never depends on it
(the exact anti-join rescue stays).

Layout (partial-key cuckoo hashing, Fan et al. 2014 — public):
- buckets of 4 uint16 fingerprint slots, 0 = empty (fingerprints are
  forced nonzero);
- fp   = sha1_hex[16:20]            (16 bits, independent of bloom's bit
  and partition regions);
- i1   = sha1_hex[20:28] mod nb     (nb = power of two);
- i2   = i1 XOR (fp * 0x5bd1e995 mod nb) — xor-partial-key, so either
  bucket derives the other from the stored fingerprint alone;
- inserts try both buckets, then at most MAX_KICKS evictions with FULL
  ROLLBACK on failure (an overflowing insert must not orphan a victim —
  no false negatives ever); failures spill to a new generation upstream,
  exactly like bloom's generational growth.

Everything except the (rare) kick chains is vectorized numpy; inserts are
a per-item loop over numpy rows inside the Arrow group — the same
"Python only at declared boundaries" budget as bloom's bit arrays.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

BUCKET_SLOTS = 4
MAX_KICKS = 250
LOAD_FACTOR = 0.84  # standard 4-slot cuckoo capacity bound
_FP_MIX = 0x5BD1E995


def n_buckets_for(n_items: int, min_buckets: int = 64) -> int:
    """Power-of-two bucket count holding *n_items* at LOAD_FACTOR."""
    want = max(int(n_items / (BUCKET_SLOTS * LOAD_FACTOR)) + 1, min_buckets)
    return 1 << (want - 1).bit_length()


def capacity(nb: int) -> int:
    return int(nb * BUCKET_SLOTS * LOAD_FACTOR)


def new_table(nb: int) -> np.ndarray:
    return np.zeros((nb, BUCKET_SLOTS), dtype=np.uint16)


def table_to_bytes(table: np.ndarray) -> bytes:
    return table.tobytes()


def table_from_bytes(bits: bytes) -> np.ndarray:
    arr = np.frombuffer(bits, dtype=np.uint16).copy()
    return arr.reshape(-1, BUCKET_SLOTS)


def m_bits_of(nb: int) -> int:
    """Filter size in bits (FILTER_SCHEMA.m_bits): nb × 4 slots × 16 bits."""
    return nb * BUCKET_SLOTS * 16


def nb_of_m_bits(m_bits: int) -> int:
    return int(m_bits) // (BUCKET_SLOTS * 16)


def keys(url_hashes: Sequence[str], nb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fingerprint, bucket1, bucket2) arrays — fully vectorized."""
    fp = np.array([int(h[16:20], 16) for h in url_hashes], dtype=np.uint32)
    fp[fp == 0] = 1  # 0 is the empty-slot sentinel
    i1 = np.array([int(h[20:28], 16) for h in url_hashes], dtype=np.uint64) % nb
    i2 = i1 ^ ((fp.astype(np.uint64) * _FP_MIX) % nb)
    return fp.astype(np.uint16), i1.astype(np.int64), i2.astype(np.int64)


def _alt_bucket(bucket: int, fp: int, nb: int) -> int:
    return int(bucket ^ ((int(fp) * _FP_MIX) % nb))


def insert_batch(
    table: np.ndarray, fps: np.ndarray, i1s: np.ndarray, i2s: np.ndarray
) -> np.ndarray:
    """Insert each (fp, i1, i2); returns a bool mask of FAILED inserts
    (overflow → the caller spills those to a new generation). Failed kick
    chains are rolled back in full, so the table never loses an item."""
    nb = table.shape[0]
    failed = np.zeros(len(fps), dtype=bool)
    for idx in range(len(fps)):
        fp, i1, i2 = int(fps[idx]), int(i1s[idx]), int(i2s[idx])
        placed = False
        for b in (i1, i2):
            row = table[b]
            empties = np.flatnonzero(row == 0)
            if empties.size:
                row[empties[0]] = fp
                placed = True
                break
        if placed:
            continue
        # kick chain with rollback journal
        journal: list[tuple[int, int, int]] = []
        b = i1 if (fp & 1) else i2  # deterministic start — replay-exact
        cur = fp
        for k in range(MAX_KICKS):
            slot = k % BUCKET_SLOTS  # deterministic victim slot
            victim = int(table[b, slot])
            journal.append((b, slot, victim))
            table[b, slot] = cur
            cur = victim
            b = _alt_bucket(b, cur, nb)
            empties = np.flatnonzero(table[b] == 0)
            if empties.size:
                table[b, empties[0]] = cur
                placed = True
                break
        if not placed:
            for jb, jslot, jval in reversed(journal):
                table[jb, jslot] = jval
            failed[idx] = True
    return failed


def contains_batch(
    table: np.ndarray, fps: np.ndarray, i1s: np.ndarray, i2s: np.ndarray
) -> np.ndarray:
    """Vectorized membership: fp present in either candidate bucket."""
    hit1 = (table[i1s] == fps[:, None]).any(axis=1)
    hit2 = (table[i2s] == fps[:, None]).any(axis=1)
    return hit1 | hit2


def delete_batch(
    table: np.ndarray, fps: np.ndarray, i1s: np.ndarray, i2s: np.ndarray
) -> np.ndarray:
    """Remove ONE occurrence of each fingerprint (bucket1 first); returns a
    bool mask of deletions that happened. Deleting a never-inserted item is
    a no-op (mask False) — never corrupts other entries beyond standard
    cuckoo semantics (equal fingerprints are interchangeable)."""
    removed = np.zeros(len(fps), dtype=bool)
    for idx in range(len(fps)):
        fp = int(fps[idx])
        for b in (int(i1s[idx]), int(i2s[idx])):
            slots = np.flatnonzero(table[b] == fp)
            if slots.size:
                table[b, slots[0]] = 0
                removed[idx] = True
                break
    return removed
