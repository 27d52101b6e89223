"""Deterministic partitioned Bloom filter shards (URL-seen sketch of
the streaming first-seen operator, streaming/stateful.py).

Pure-Python, stdlib-only, byte-serializable. Hash family is
``blake2b(url, salt=k)`` → deterministic across processes, engines and
resume (no PYTHONHASHSEED dependence). No false negatives ever; the
false-positive rate is configured by bits-per-item.

Sharding: ``shard_id = xxhash-free stable hash(url) % n_shards`` using
blake2b as well, so the same URL always probes the same shard.
Re-adding a batch yields the same bits and shards OR-merge, so
rebuilding state is idempotent (SURVEY.md §7 hard-part 3).
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterable


def stable_hash64(s: str, seed: int = 0) -> int:
    h = hashlib.blake2b(s.encode("utf-8"), digest_size=8, salt=seed.to_bytes(8, "little"))
    return int.from_bytes(h.digest(), "big")


def shard_of(url: str, n_shards: int) -> int:
    return stable_hash64(url, seed=0xFACADE % 256) % n_shards


# Hash-family tags carried in the serialized header: a sketch fed by
# one family MUST be probed with the same family (h-positions differ),
# so persisted state from a different code version fails FAST in
# from_bytes instead of silently treating every seen URL as new.
FAMILY_NONE = 0      # empty sketch, no adds yet
FAMILY_BLAKE2B = 1   # scalar add()/__contains__ (blake2b url hashing)
FAMILY_XX64 = 2      # vectorized *_many_i64 (JVM xxhash64 pairs)

_MAGIC = b"BS"
_FORMAT_VERSION = 2


class BloomShard:
    """Fixed-size Bloom filter over a bytearray."""

    __slots__ = ("n_bits", "n_hashes", "bits", "n_items", "family")

    def __init__(
        self,
        n_bits: int,
        n_hashes: int,
        bits: bytearray | None = None,
        n_items: int = 0,
        family: int = FAMILY_NONE,
    ):
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else bytearray((n_bits + 7) // 8)
        self.n_items = n_items
        self.family = family

    def _claim_family(self, fam: int, op: str) -> None:
        if self.family == FAMILY_NONE:
            self.family = fam
        elif self.family != fam:
            raise ValueError(
                f"hash-family mismatch: {op} uses family {fam} but this "
                f"sketch was built with family {self.family} — probing "
                "with the wrong family silently loses the seen set"
            )

    @classmethod
    def sized_for(cls, expected_items: int, fp_rate: float = 1e-4) -> "BloomShard":
        n_bits = max(64, int(-expected_items * math.log(fp_rate) / (math.log(2) ** 2)))
        n_hashes = max(1, int(round(n_bits / max(expected_items, 1) * math.log(2))))
        return cls(n_bits, min(n_hashes, 16))

    def _positions(self, url: str) -> Iterable[int]:
        # Kirsch-Mitzenmacher double hashing
        h1 = stable_hash64(url, seed=1)
        h2 = stable_hash64(url, seed=2) | 1
        for k in range(self.n_hashes):
            yield (h1 + k * h2) % self.n_bits

    def add(self, url: str) -> None:
        self._claim_family(FAMILY_BLAKE2B, "add()")
        for pos in self._positions(url):
            self.bits[pos >> 3] |= 1 << (pos & 7)
        self.n_items += 1

    def __contains__(self, url: str) -> bool:
        if self.family not in (FAMILY_NONE, FAMILY_BLAKE2B):
            raise ValueError(
                "hash-family mismatch: __contains__ probes blake2b but "
                f"this sketch was built with family {self.family}"
            )
        return all(self.bits[p >> 3] & (1 << (p & 7)) for p in self._positions(url))

    # -- vectorized (numpy) path over PRECOMPUTED 64-bit hash pairs ------
    #
    # The crawl frontier computes (h1, h2) JVM-side (xxhash64 with
    # distinct salts, whole-stage codegen) and ships them through Arrow
    # as int64 columns; the Python side then only does numpy bit
    # arithmetic — no per-URL Python hashing on the probe/build hot
    # path. NOTE: this is a DIFFERENT hash family from the scalar
    # add()/__contains__ (blake2b) — feed and probe any one shard
    # through exactly one family. Both families share the no-false-
    # negative property; Kirsch-Mitzenmacher double hashing with h2
    # forced odd. Reducing h1, h2 mod n_bits BEFORE the k-loop keeps
    # every intermediate < 17·n_bits « 2^64, so uint64 arithmetic is
    # exact and positions match the unbounded-int formula.

    def add_many_i64(self, h1, h2) -> None:
        import numpy as np

        self._claim_family(FAMILY_XX64, "add_many_i64()")

        h1 = np.asarray(h1, dtype=np.int64).view(np.uint64) % np.uint64(self.n_bits)
        h2 = (np.asarray(h2, dtype=np.int64).view(np.uint64) | np.uint64(1)) % np.uint64(self.n_bits)
        bits = np.frombuffer(self.bits, dtype=np.uint8)
        for k in range(self.n_hashes):
            pos = (h1 + np.uint64(k) * h2) % np.uint64(self.n_bits)
            idx = (pos >> np.uint64(3)).astype(np.int64)
            val = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
            # unbuffered |= — repeated byte indices within one batch
            # must all land
            np.bitwise_or.at(bits, idx, val)
        self.n_items += len(h1)

    def contains_many_i64(self, h1, h2):
        import numpy as np

        if self.family not in (FAMILY_NONE, FAMILY_XX64):
            raise ValueError(
                "hash-family mismatch: contains_many_i64 probes xxhash64 "
                f"but this sketch was built with family {self.family}"
            )

        h1 = np.asarray(h1, dtype=np.int64).view(np.uint64) % np.uint64(self.n_bits)
        h2 = (np.asarray(h2, dtype=np.int64).view(np.uint64) | np.uint64(1)) % np.uint64(self.n_bits)
        bits = np.frombuffer(self.bits, dtype=np.uint8)
        out = np.ones(len(h1), dtype=bool)
        for k in range(self.n_hashes):
            pos = (h1 + np.uint64(k) * h2) % np.uint64(self.n_bits)
            byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
            out &= ((byte >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)).astype(bool)
        return out

    def merge(self, other: "BloomShard") -> "BloomShard":
        if not isinstance(other, BloomShard):
            raise ValueError(
                f"cannot merge a Bloom shard with {type(other).__name__} — "
                "sketch families don't mix within one shard table"
            )
        if (self.n_bits, self.n_hashes) != (other.n_bits, other.n_hashes):
            raise ValueError("incompatible shard geometry")
        if FAMILY_NONE not in (self.family, other.family) and self.family != other.family:
            raise ValueError(
                f"hash-family mismatch: cannot merge family {self.family} "
                f"with family {other.family}"
            )
        merged = bytearray(a | b for a, b in zip(self.bits, other.bits))
        return BloomShard(
            self.n_bits,
            self.n_hashes,
            merged,
            self.n_items + other.n_items,
            family=self.family if self.family != FAMILY_NONE else other.family,
        )

    # -- serialization (parquet BINARY column payload) -------------------
    #
    # Format v2 header: magic "BS" + version + hash-family byte, then
    # n_bits(8) n_hashes(2) n_items(8) big-endian, then the bit array.
    # The family byte makes persisted crawl state self-describing: a
    # resume that would probe with a different hash family (e.g. shards
    # persisted by the pre-v2 blake2b code, probed by the xxhash64
    # vectorized path) raises in from_bytes instead of silently
    # re-crawling everything. Legacy (unversioned) payloads started
    # with n_bits' zero high byte, so raw[0] != "B" detects them.
    def to_bytes(self) -> bytes:
        head = (
            _MAGIC
            + _FORMAT_VERSION.to_bytes(1, "big")
            + self.family.to_bytes(1, "big")
            + self.n_bits.to_bytes(8, "big")
            + self.n_hashes.to_bytes(2, "big")
            + self.n_items.to_bytes(8, "big")
        )
        return head + bytes(self.bits)

    @classmethod
    def from_bytes(cls, raw: bytes, assume_family: int | None = None) -> "BloomShard":
        """Deserialize a shard.  ``assume_family`` is the explicit
        migration path for PRE-v2 (unversioned) payloads: their bits
        are fully reusable when the operator knows which hash family
        produced them, so passing ``assume_family=FAMILY_BLAKE2B`` (or
        ``FAMILY_XX64``) re-tags the legacy state instead of forcing a
        recrawl.  Without it, legacy payloads still fail fast — the
        default stays refuse-don't-guess."""
        if len(raw) >= 18 and raw[0:2] != _MAGIC and assume_family is not None:
            if assume_family not in (FAMILY_BLAKE2B, FAMILY_XX64):
                raise ValueError(
                    f"assume_family must be a concrete hash family "
                    f"(FAMILY_BLAKE2B or FAMILY_XX64), got {assume_family}"
                )
            # legacy v1 layout: n_bits(8) n_hashes(2) n_items(8) + bits
            n_bits = int.from_bytes(raw[0:8], "big")
            n_hashes = int.from_bytes(raw[8:10], "big")
            n_items = int.from_bytes(raw[10:18], "big")
            if n_bits <= 0 or len(raw) - 18 != (n_bits + 7) // 8:
                raise ValueError(
                    "payload is not a legacy v1 Bloom sketch (geometry/"
                    "length mismatch) — cannot migrate via assume_family"
                )
            return cls(
                n_bits, n_hashes, bytearray(raw[18:]), n_items, family=assume_family
            )
        if len(raw) < 22 or raw[0:2] != _MAGIC:
            raise ValueError(
                "unversioned/foreign Bloom sketch payload — persisted "
                "state predates format v2 (hash-family tagging); refusing "
                "to resume with a possibly-mismatched hash family. If the "
                "producing family is known, migrate explicitly with "
                "from_bytes(raw, assume_family=FAMILY_BLAKE2B|FAMILY_XX64)"
            )
        version, family = raw[2], raw[3]
        if version != _FORMAT_VERSION:
            raise ValueError(f"unsupported Bloom sketch format version {version}")
        if family not in (FAMILY_NONE, FAMILY_BLAKE2B, FAMILY_XX64):
            raise ValueError(f"unknown Bloom sketch hash-family tag {family}")
        n_bits = int.from_bytes(raw[4:12], "big")
        n_hashes = int.from_bytes(raw[12:14], "big")
        n_items = int.from_bytes(raw[14:22], "big")
        return cls(n_bits, n_hashes, bytearray(raw[22:]), n_items, family=family)
