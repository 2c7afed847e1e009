"""Partitioned cuckoo-filter URL-seen set (SURVEY.md §2 A8, §4.3).

Bucketized cuckoo filter (Fan et al., "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT'14): 4 slots/bucket, 16-bit fingerprints,
partial-key cuckoo hashing.  All insert/lookup paths are
numpy-vectorized — the filter lives inside grouped-map pandas UDFs,
one blob per url-hash partition, serialized to a ``binary`` column of
the ``seen_filter`` table.  It is the engine's only seen-filter kind:
``from_bytes`` rejects any other blob (e.g. a blocked-bloom blob left
in an older run dir) with ``ValueError``.

Role in the engine: *pruning accelerator only*.  Candidates that the
filter says "definitely new" skip the exact anti-join's shuffle of the
(at design scale 10^10-row) ``seen`` table; "maybe seen" survivors
(all true dupes + ~0.012% false positives at 16-bit/4-slot) go through
the exact anti-join, which remains the authority.  Correctness never
depends on the filter (SURVEY.md §7.1).

Keys are the engine's canonical-URL xxhash64 values (int64), so no
string hashing happens here — fingerprint and bucket index are derived
from the key by splitting/mixing its bits.
"""

from __future__ import annotations

import numpy as np

SLOTS = 4
FP_BITS = 16
MAX_KICKS = 500
_FP_MASK = (1 << FP_BITS) - 1


def _mix(x: np.ndarray) -> np.ndarray:
    # splitmix64 finalizer — decorrelates bucket index from fingerprint
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class CuckooFilter:
    """One partition's filter. ``table`` is uint16[n_buckets, SLOTS];
    fingerprint 0 means empty (real fingerprints are remapped to 1..)."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None, n_keys: int = 0):
        # power-of-two bucket count so index math is a mask
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.n_buckets = n_buckets
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, SLOTS), dtype=np.uint16)
        )
        self.n_keys = n_keys

    # -- key decomposition ---------------------------------------------------
    def _fp_and_index(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        u = keys.astype(np.int64).view(np.uint64)
        fp = ((u >> np.uint64(48)) & np.uint64(_FP_MASK)).astype(np.uint16)
        fp = np.where(fp == 0, np.uint16(1), fp)  # reserve 0 for empty
        # mix before indexing: the seen-set is PARTITIONED by
        # pmod(url_hash, P) — raw low bits are constant within a
        # partition and would alias to 1/P of the buckets (observed
        # overflow at bench scale); splitmix decorrelates
        i1 = (_mix(u) & np.uint64(self.n_buckets - 1)).astype(np.int64)
        return fp, i1

    def _alt_index(self, i: np.ndarray, fp: np.ndarray) -> np.ndarray:
        h = _mix(fp.astype(np.uint64))
        return ((i.view(np.uint64) ^ h) & np.uint64(self.n_buckets - 1)).astype(
            np.int64
        )

    # -- vectorized membership -----------------------------------------------
    def contains(self, keys: np.ndarray) -> np.ndarray:
        """bool[n]: True = maybe present, False = definitely absent."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_and_index(np.asarray(keys))
        i2 = self._alt_index(i1, fp)
        fpc = fp[:, None]
        return ((self.table[i1] == fpc) | (self.table[i2] == fpc)).any(axis=1)

    # -- insertion (vectorized outer loop, per-key kicks only on collision) --
    def insert(self, keys: np.ndarray) -> int:
        """Insert keys (duplicates fine); returns number inserted.
        Raises RuntimeError when the filter is over-full (caller sizes
        blobs for the partition's expected keys at <=0.95 load)."""
        keys = np.asarray(keys)
        if len(keys) == 0:
            return 0
        fp, i1 = self._fp_and_index(keys)
        i2 = self._alt_index(i1, fp)
        for k in range(len(keys)):
            self._insert_one(int(i1[k]), int(i2[k]), int(fp[k]))
        self.n_keys += len(keys)
        return len(keys)

    def _insert_one(self, i1: int, i2: int, fp: int) -> None:
        for i in (i1, i2):
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        # evict: random-walk kicks, deterministic RNG seeded from the key parts
        rng = np.random.default_rng(((i1 << 20) ^ (i2 << 4) ^ fp) & 0x7FFFFFFF)
        i = i1
        for _ in range(MAX_KICKS):
            slot = int(rng.integers(SLOTS))
            fp, self.table[i, slot] = int(self.table[i, slot]), fp
            i = int(
                self._alt_index(np.array([i], dtype=np.int64), np.array([fp], dtype=np.uint16))[0]
            )
            row = self.table[i]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        raise RuntimeError("cuckoo filter full — resize partition blob")

    # -- serialization (binary column round-trip) -----------------------------
    def to_bytes(self) -> bytes:
        header = np.array([self.n_buckets, self.n_keys], dtype=np.int64).tobytes()
        return header + self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        """Decode a ``to_bytes`` blob.  The header is checked, not
        trusted: a blob whose bucket count is not a positive power of
        two (a blocked-bloom blob from an older run dir leads with a
        negative magic) or whose length disagrees with that count
        raises ``ValueError``."""
        blob = bytes(blob)
        if len(blob) < 16:
            raise ValueError(f"cuckoo blob too short: {len(blob)} bytes")
        n_buckets, n_keys = (int(v) for v in np.frombuffer(blob[:16], dtype=np.int64))
        if n_buckets <= 0 or n_buckets & (n_buckets - 1):
            raise ValueError(
                f"not a cuckoo-filter blob: bucket count {n_buckets} is not "
                "a positive power of two")
        if len(blob) != 16 + n_buckets * SLOTS * 2:
            raise ValueError(
                f"cuckoo blob is {len(blob)} bytes, header implies "
                f"{16 + n_buckets * SLOTS * 2}")
        table = np.frombuffer(blob[16:], dtype=np.uint16).reshape(n_buckets, SLOTS).copy()
        return cls(n_buckets, table, n_keys)

    @classmethod
    def sized_for(cls, expected_keys: int, load: float = 0.84) -> "CuckooFilter":
        need = max(64, int(expected_keys / (SLOTS * load)))
        n = 1
        while n < need:
            n <<= 1
        return cls(n)
