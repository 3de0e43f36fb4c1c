"""Per-segment partition-key Bloom filters — the SSTable ``Filter.db``
analogue (`[C* utils/BloomFilter; io/sstable/format/big/BigFormat
Components.FILTER, unverified]` — SURVEY.md §0: reference dir is empty,
cited from public knowledge).

The reference attaches a Bloom filter over partition keys to every
SSTable so point reads touch only the SSTables that can contain the key
(`bloom_filter_fp_chance`, default ~1%). Same construction here:

- keys hash with the engine's bit-exact Murmur3 x64-128
  (:mod:`cassandra_spark.operators.murmur3` — the SAME hash the ring
  tokens use, as in the reference);
- the k probe positions derive from the two 64-bit halves by double
  hashing, ``g_i = h1 + i·h2 (mod m)`` (Kirsch–Mitzenmacher — the
  reference's BloomFilter does exactly this with the 128-bit hash);
- sizing per the standard formulae ``m = ceil(-n·ln p / ln²2)``,
  ``k = max(1, round((m/n)·ln 2))``.

Filters persist as a tiny sidecar next to the segment parquet
(``<segment>.bloom``: ``m``, ``k``, then the bit array), the Filter.db
component analogue — and are rebuilt lazily from the segment's own key
column when the sidecar is missing (e.g. a segment re-attached by
keyspace restore), so a filterless segment never reads wrong, only
slower.
"""

from __future__ import annotations

import math
import os
import struct
from collections.abc import Iterable

from cassandra_spark.operators.murmur3 import murmur3_x64_128

_MAGIC = b"CSBF1"
# sentinel for a None partition key (static-only rows log pk=None)
_NONE_KEY = b"\x00\x00__none__"


def _key_bytes(pk) -> bytes:
    return _NONE_KEY if pk is None else str(pk).encode("utf-8")


class BloomFilter:
    """Fixed-size Bloom filter over partition keys (see module doc)."""

    __slots__ = ("m", "k", "bits")

    def __init__(self, m: int, k: int, bits: bytearray | None = None):
        if m <= 0 or k <= 0:
            raise ValueError("m and k must be positive")
        self.m = m
        self.k = k
        self.bits = bits if bits is not None else bytearray((m + 7) // 8)

    # --- construction ------------------------------------------------------

    @classmethod
    def for_keys(cls, keys: Iterable, fp: float = 0.01) -> "BloomFilter":
        """Size for the distinct keys at target false-positive rate ``fp``
        (the reference's bloom_filter_fp_chance) and add them all."""
        ks = {_key_bytes(p) for p in keys}
        f = cls.for_count(len(ks), fp)
        for kb in ks:
            f._add_bytes(kb)
        return f

    @classmethod
    def for_count(cls, n: int, fp: float = 0.01) -> "BloomFilter":
        """An empty filter sized for ``n`` distinct keys at ``fp`` — for
        a writer that counts its keys before it adds them."""
        n = max(1, n)
        m = max(8, math.ceil(-n * math.log(fp) / (math.log(2) ** 2)))
        k = max(1, round((m / n) * math.log(2)))
        return cls(m, k)

    def _positions(self, key: bytes):
        h1, h2 = murmur3_x64_128(key)
        for i in range(self.k):
            yield (h1 + i * h2) % self.m

    def _add_bytes(self, key: bytes) -> None:
        for pos in self._positions(key):
            self.bits[pos >> 3] |= 1 << (pos & 7)

    def add(self, pk) -> None:
        self._add_bytes(_key_bytes(pk))

    # --- query -------------------------------------------------------------

    def might_contain(self, pk) -> bool:
        """False means DEFINITELY absent (the read can skip the segment);
        True means maybe-present (read it — ~fp of these are wasted)."""
        for pos in self._positions(_key_bytes(pk)):
            if not (self.bits[pos >> 3] >> (pos & 7)) & 1:
                return False
        return True

    # --- persistence (the Filter.db sidecar) --------------------------------

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<QI", self.m, self.k) + bytes(self.bits)

    @classmethod
    def from_bytes(cls, raw: bytes) -> "BloomFilter":
        if raw[: len(_MAGIC)] != _MAGIC:
            raise ValueError("not a bloom sidecar")
        m, k = struct.unpack_from("<QI", raw, len(_MAGIC))
        bits = bytearray(raw[len(_MAGIC) + 12 :])
        if len(bits) != (m + 7) // 8:
            raise ValueError("bloom sidecar truncated")
        return cls(m, k, bits)

    def save(self, path: str) -> None:
        with open(path, "wb") as fh:
            fh.write(self.to_bytes())

    @classmethod
    def load(cls, path: str) -> "BloomFilter":
        with open(path, "rb") as fh:
            return cls.from_bytes(fh.read())


def sidecar_path(segment_path: str) -> str:
    return segment_path + ".bloom"


def bloom_for_segment(segment_path: str, fp: float = 0.01) -> BloomFilter:
    """Load the segment's sidecar filter, or rebuild it from the parquet
    key column (and persist the sidecar) when missing — restore-safe."""
    sc = sidecar_path(segment_path)
    if os.path.exists(sc):
        try:
            return BloomFilter.load(sc)
        except Exception:
            pass  # corrupt/truncated sidecar: rebuild below, never fail
    import pyarrow.parquet as pq

    pks = pq.read_table(segment_path, columns=["pk"]).column("pk").to_pylist()
    f = BloomFilter.for_keys(pks, fp)
    try:
        f.save(sc)
    except OSError:
        pass  # read-only segment dir: serve from memory, never fail a read
    return f
