"""URL-seen set: exact anti-join + broadcast Bloom prefilter.

Reference semantics: the seen set IS the output directory — a URL is
"seen" iff its JSON file exists (/root/reference/exchange/binance.py:253-255),
and stale placeholders count (/root/reference/exchange/binance.py:242-244).

Engine design (north rule: bloom/cuckoo URL-seen at 10^10 scale):

- EXACTNESS comes from a left-anti join of the frontier against the
  ``seen(url_hash)`` table — never from the Bloom filter alone.
- The filter (Bloom or cuckoo) is a broadcast PREFILTER, probed once
  per frontier row (:func:`prefilter`) and used as a join condition:
  ONE left-anti join on ``key = seen key AND maybe_seen``, so a row the
  filter rules out can never match and the frontier is scanned once.
  False positives cost one extra key comparison, never a dropped URL
  (property-tested).  The probe is a nondeterministic UDF, so Catalyst
  cannot infer it through the join key onto the seen side — it runs
  over frontier rows only.  The seen keys are still read and broadcast
  every round; reading only the seen files that can hold
  possibly-seen keys is the open part of this design.
- One build (:func:`build_filter`): small filters add Arrow-collected
  keys on the driver; large ones build one filter per partition (numpy
  ops over int64 arrays, no per-row Python) and merge them on the
  driver — the treeAggregate pattern.  Per-round DELTAS are merged the
  same way, so the filter is maintained incrementally instead of
  rebuilt (SURVEY §2.11: the one custom aggregate the engine needs).

The north rule names a CUCKOO-FILTER FALLBACK FOR DELETES: the one
crawl operation Bloom cannot express is *un-seeing* a URL — freshness
invalidation / forced re-crawl, where a previously-fetched URL must
become schedulable again.  ``CuckooFilter64`` (partial-key cuckoo
hashing, Fan et al. CoNEXT'14) supports that: 4-slot buckets of 16-bit
fingerprints at ≤0.95 load ≈ 2.2 B/key (vs Bloom's ~0.9 B/key at 3%
fpp).  Delete is its one extra method (``delete_many``); otherwise both
filters share one surface — ``add_many``, ``might_contain``, ``merge``,
``to_bytes``/``from_bytes`` and ``geometry`` — so the build, the
prefilter and the sidecar (plans/round.py) handle either kind.  The
crawl's delete path (plans/driver.requeue) removes keys from the exact
seen TABLE and the filter together, so a fingerprint collision between
a deleted and a kept key costs one extra key comparison (possible false
positive), never a duplicate fetch.  At 10^10 keys either filter is
tens of GB — too big for one broadcast — so the scale path shards the
filter by the frontier's ``host_bucket`` partitioning (each task loads
only its shard); the single-filter form below is the per-shard unit.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_M64 = (1 << 64) - 1


class BloomFilter64:
    """Bloom filter over int64 keys; double hashing, numpy-vectorized."""

    kind = "bloom"

    def __init__(self, n_expected: int, fpp: float = 0.03, bits: np.ndarray | None = None):
        if bits is not None:
            self.m = int(bits.size) * 8
            self.bits = bits
        else:
            m = max(64, int(-n_expected * math.log(fpp) / (math.log(2) ** 2)))
            self.m = ((m + 63) // 64) * 64
            self.bits = np.zeros(self.m // 8, dtype=np.uint8)
        self.k = max(1, int(round(self.m / max(n_expected, 1) * math.log(2))))
        self.k = min(self.k, 8)

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(len(keys), k) bit positions via double hashing of the int64 key."""
        h = keys.astype(np.uint64)
        h1 = h ^ (h >> np.uint64(33))
        h1 = (h1 * np.uint64(0xFF51AFD7ED558CCD)) & np.uint64(_M64)
        h2 = (h1 >> np.uint64(29)) | np.uint64(1)  # odd → full-period stride
        i = np.arange(self.k, dtype=np.uint64)[None, :]
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(self.m)).astype(np.int64)

    def add_many(self, keys: np.ndarray) -> None:
        pos = self._positions(keys).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        if keys.size == 0:
            return np.zeros(0, dtype=bool)
        pos = self._positions(keys)
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=1).astype(bool)

    def merge(self, other: "BloomFilter64") -> "BloomFilter64":
        assert self.m == other.m and self.k == other.k
        self.bits |= other.bits
        return self

    @property
    def geometry(self) -> dict:
        return {"m": self.m, "k": self.k}

    def to_bytes(self) -> bytes:
        return self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_expected: int) -> "BloomFilter64":
        return cls(n_expected, bits=np.frombuffer(data, dtype=np.uint8).copy())


class CuckooFilter64:
    """Cuckoo filter over int64 keys — the delete-capable seen filter.

    Partial-key cuckoo hashing (Fan et al., CoNEXT'14): each key stores a
    16-bit fingerprint in one of two buckets, ``i1 = h(key)`` and
    ``i2 = i1 ^ h(fp)`` — the XOR form lets an entry relocate knowing
    only (bucket, fp), which is what makes eviction (and merge) work.

    Contract (what makes ``delete`` safe): ``add_many`` is called ONCE
    per unique key — the crawl adds a url_hash exactly when it
    transitions to seen — and duplicate copies from *distinct* keys that
    collide on (bucket, fp) are kept as separate copies, so deleting one
    key removes exactly one copy and never produces a false negative for
    the other (the collision survivor still matches).  Deleting a key
    that was never added is undefined, as in the paper.
    """

    kind = "cuckoo"
    SLOTS = 4
    _MAX_KICKS = 500

    def __init__(self, n_expected: int, table: np.ndarray | None = None):
        if table is not None:
            self.table = table
        else:
            n_buckets = 64
            while n_buckets * self.SLOTS * 0.95 < max(n_expected, 1):
                n_buckets <<= 1
            self.table = np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)
        self.n_buckets = int(self.table.shape[0])
        self.mask = np.uint64(self.n_buckets - 1)

    def _fp_hash(self, fp: np.ndarray) -> np.ndarray:
        """Bucket offset from a fingerprint (uint64 in, masked out)."""
        return (fp.astype(np.uint64) * np.uint64(0x5BD1E9955BD1E995)) & self.mask

    def _fp_index(self, keys: np.ndarray):
        h = keys.astype(np.uint64)
        h = h ^ (h >> np.uint64(33))
        h = (h * np.uint64(0xFF51AFD7ED558CCD)) & np.uint64(_M64)
        fp = ((h >> np.uint64(48)) % np.uint64(65535) + np.uint64(1)).astype(
            np.uint16
        )  # 1..65535 — 0 is the empty-slot sentinel
        i1 = h & self.mask
        i2 = i1 ^ self._fp_hash(fp)
        return fp, i1.astype(np.int64), i2.astype(np.int64)

    def _group_ranks(self, buckets: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(stable order, rank-within-equal-bucket-run) for scatter safety."""
        order = np.argsort(buckets, kind="stable")
        bs = buckets[order]
        starts = np.r_[0, np.flatnonzero(np.diff(bs)) + 1]
        lens = np.diff(np.r_[starts, bs.size])
        ranks = np.arange(bs.size) - np.repeat(starts, lens)
        return order, ranks

    def _insert_batch(self, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> None:
        """Place (fp, {i1, i2}) entries: two vectorized direct-placement
        passes (the overwhelmingly common path below the load limit),
        then a per-entry eviction walk for the stragglers."""
        for which in (0, 1):
            if fp.size == 0:
                break
            cand = i1 if which == 0 else i2
            occ = (self.table != 0).sum(axis=1).astype(np.int64)
            order, ranks = self._group_ranks(cand)
            bs, fps = cand[order], fp[order]
            fits = ranks < (self.SLOTS - occ[bs])
            # (row, slot) pairs are distinct by construction: within a
            # bucket run, slot = current occupancy + rank 0,1,2,…
            self.table[bs[fits], occ[bs[fits]] + ranks[fits]] = fps[fits]
            keep = ~fits
            fp = fps[keep]
            i1, i2 = i1[order][keep], i2[order][keep]
        for j in range(fp.size):
            self._insert_one(int(fp[j]), int(i1[j]))

    def _insert_one(self, fp: int, i: int) -> None:
        for kick in range(self._MAX_KICKS):
            row = self.table[i]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                self.table[i, empty[0]] = fp
                return
            j = kick % self.SLOTS  # deterministic eviction (no RNG anywhere)
            fp, self.table[i, j] = int(self.table[i, j]), fp
            i = int(
                np.uint64(i) ^ self._fp_hash(np.array([fp], dtype=np.uint64))[0]
            )
        raise RuntimeError(
            "cuckoo filter over capacity — size n_expected for the seen set "
            f"(load {(self.table != 0).mean():.2f}, {self.n_buckets} buckets)"
        )

    def add_many(self, keys: np.ndarray) -> None:
        keys = np.unique(np.asarray(keys, dtype=np.int64))
        fp, i1, i2 = self._fp_index(keys)
        self._insert_batch(fp, i1, i2)

    def might_contain(self, keys: np.ndarray) -> np.ndarray:
        if keys.size == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = self._fp_index(np.asarray(keys, dtype=np.int64))
        return ((self.table[i1] == fp[:, None]) | (self.table[i2] == fp[:, None])).any(
            axis=1
        )

    def delete_many(self, keys: np.ndarray) -> np.ndarray:
        """Remove ONE copy per unique key; bool mask of keys found.

        Scalar per key — 'remove exactly one copy' under duplicate
        (bucket, fp) hits is not scatter-expressible; invalidation
        batches are orders of magnitude smaller than inserts, and at
        shard scale they run inside the shard's own partition.
        """
        keys = np.unique(np.asarray(keys, dtype=np.int64))
        fp, i1, i2 = self._fp_index(keys)
        found = np.zeros(keys.size, dtype=bool)
        for j in range(keys.size):
            for i in (int(i1[j]), int(i2[j])):
                s = np.flatnonzero(self.table[i] == fp[j])
                if s.size:
                    self.table[i, s[0]] = 0
                    # left-pack the row: the batch-insert scatter places
                    # new copies at slot occupancy+rank, which assumes
                    # occupied slots are contiguous from slot 0
                    row = self.table[i]
                    nz = row[row != 0]
                    row[:] = 0
                    row[: nz.size] = nz
                    found[j] = True
                    break
        return found

    def merge(self, other: "CuckooFilter64") -> "CuckooFilter64":
        """Union by re-placing the other table's copies (same geometry).

        An entry sitting in its i2 re-derives i1 = i2 ^ h(fp), so every
        copy carries both candidate buckets — the same vectorized batch
        insert as ``add_many`` applies.
        """
        assert self.n_buckets == other.n_buckets
        rows, slots = np.nonzero(other.table)
        fp = other.table[rows, slots]
        alt = (rows.astype(np.uint64) ^ self._fp_hash(fp)).astype(np.int64)
        self._insert_batch(fp, rows.astype(np.int64), alt)
        return self

    @property
    def geometry(self) -> dict:
        return {"n_buckets": self.n_buckets}

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_expected: int) -> "CuckooFilter64":
        table = np.frombuffer(data, dtype=np.uint16).reshape(-1, cls.SLOTS)
        return cls(n_expected, table=table.copy())


# Below this n_expected the filter is built by collecting the raw keys
# (8 B/key over Arrow) and one vectorized driver-side add_many; above it
# the per-partition-filter reduce takes over.  The key collect moves
# rows × 8 B; the per-partition path moves partitions × filter bytes —
# at bench scale (400 k expected, ~200 post-AQE partitions of a
# 128-partition fetch stage) that is 0.7 MB vs ~80 MB for a Bloom, and
# the gap WIDENS with n_expected until the key count itself threatens
# driver memory (8 B × 64 M = 512 MB, the cap below).
_DRIVER_BUILD_MAX = 64_000_000


def build_filter(
    df: DataFrame, key_col: str, n_expected: int,
    empty: BloomFilter64 | CuckooFilter64,
) -> BloomFilter64 | CuckooFilter64:
    """Add every ``key_col`` value of ``df`` to ``empty`` — a fresh
    filter sized for ``n_expected`` keys, of either kind — and return it.

    Up to ``_DRIVER_BUILD_MAX`` expected keys, the keys are collected
    over Arrow and added on the driver.  Above it, each partition fills
    its own filter of the same geometry and the driver merges them (a
    bitwise OR for Bloom, a vectorized re-placement for cuckoo — cuckoo
    tables don't OR, so every partition table shares the full-size
    geometry and the union stays below the load limit).
    """
    if n_expected <= _DRIVER_BUILD_MAX:
        keys = df.select(key_col).toPandas()[key_col].to_numpy(dtype=np.int64)
        if keys.size:
            empty.add_many(keys)
        return empty
    # the tasks get the class and byte size, not the (large) empty
    # filter: all-zero bytes deserialize to an empty filter
    cls, n_bytes = type(empty), len(empty.to_bytes())

    def partition_filter(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        part = cls.from_bytes(bytes(n_bytes), n_expected)
        seen_any = False
        for pdf in it:
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            if keys.size:
                part.add_many(keys)
                seen_any = True
        if seen_any:
            yield pd.DataFrame({"filter": [part.to_bytes()]})

    parts = (
        df.select(key_col)
        .mapInPandas(
            partition_filter,
            schema=T.StructType([T.StructField("filter", T.BinaryType())]),
        )
        .collect()
    )
    for row in parts:
        empty.merge(cls.from_bytes(row["filter"], n_expected))
    return empty


def build_bloom(
    df: DataFrame, key_col: str, n_expected: int, fpp: float = 0.03
) -> BloomFilter64:
    """:func:`build_filter` into an empty Bloom filter."""
    return build_filter(df, key_col, n_expected, BloomFilter64(n_expected, fpp))


def build_cuckoo(df: DataFrame, key_col: str, n_expected: int) -> CuckooFilter64:
    """:func:`build_filter` into an empty cuckoo filter."""
    return build_filter(df, key_col, n_expected, CuckooFilter64(n_expected))


# the column :func:`prefilter` adds: the filter's answer for the row's key
MAYBE_SEEN = "__maybe_seen"


def prefilter(
    df: DataFrame, key_col: str, filt: BloomFilter64 | CuckooFilter64
) -> DataFrame:
    """``df`` plus a boolean ``MAYBE_SEEN`` column: whether the filter
    (either kind) might hold the row's ``key_col``.  ``False`` is exact
    (no false negatives); ``True`` may be a false positive.

    The filter travels as a Spark broadcast variable, deserialized once
    per executor, and the probe runs once per row of ``df``.  The UDF is
    marked nondeterministic so Catalyst cannot copy it: a deterministic
    probe used as a filter is inferred through an equi-join key onto the
    other side, which then runs it over every row there too.
    """
    b = df.sparkSession.sparkContext.broadcast(filt)

    @F.pandas_udf(T.BooleanType())
    def might_contain(keys: pd.Series) -> pd.Series:
        return pd.Series(b.value.might_contain(keys.to_numpy(dtype=np.int64)))

    probe = might_contain.asNondeterministic()
    return df.withColumn(MAYBE_SEEN, probe(F.col(key_col)))


def anti_join_seen(
    frontier: DataFrame,
    seen: DataFrame | None,
    key_col: str = "url_hash",
    bloom: BloomFilter64 | CuckooFilter64 | None = None,
) -> DataFrame:
    """Rows of ``frontier`` whose ``key_col`` is NOT in ``seen`` — exact.

    Without a seen filter ``bloom``: a plain left-anti join (Catalyst
    picks broadcast-anti when ``seen`` is small).  With one (either
    kind): ONE left-anti join on ``key = seen key AND maybe_seen``, so
    the frontier is scanned once and probed once per row, and a row the
    filter rules out can never match — exactness still comes from the
    join, since the filter has no false negatives.  ``seen`` is read
    as is, never probed and not de-duplicated: a left-anti join's output
    does not depend on duplicate keys on the right, and a distinct would
    aggregate and shuffle the whole seen table every round.
    """
    if seen is None:
        return frontier
    if bloom is None:
        return frontier.join(seen.select(key_col), key_col, "left_anti")
    seen_keys = seen.select(F.col(key_col).alias("__seen_key"))
    return (
        prefilter(frontier, key_col, bloom)
        .join(
            seen_keys,
            (F.col(key_col) == F.col("__seen_key")) & F.col(MAYBE_SEEN),
            "left_anti",
        )
        .drop(MAYBE_SEEN)
    )
