"""Distributed Bloom-filter build for the mention-link decision set.

The extract UDF needs per-mention membership of (lang, surface) in the
mention index (the reference's "did wbsearchentities return a hit" decision,
mapper.py:1547-1577).  Round 1 collected the full surface set to the driver
(engine/pipeline.py) — a scale-killer at 10^8+ surfaces.  This module builds
a fixed-size Bloom bitmap *distributedly*: each input partition produces one
local bitmap inside ``mapInPandas``, the bitmaps are OR-reduced on an
executor, and the driver only ever holds the final O(m/8)-byte array, never
the rows.

False positives make the UDF defer a mention the index can't resolve; the
pipeline guards that path with a minted-fallback column
(CANDIDATES_SCHEMA.link_fallback) so the output subject degrades to the
fallback IRI instead of leaking a sentinel.  A false positive's only residual
divergence from the true-miss semantics is the reference's elem-mutation
side effect (mapper.py:884-886) — bounded by ``fpp``.  Default fpp is 1e-6:
the FP consequence is only that bounded side effect, and relative to 1e-8 the
bitmap shrinks 25% (smaller broadcast, smaller OR-reduce fan-in).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame


class BloomSet:
    """Picklable Bloom membership over (lang, surface) keys.

    Duck-types the builtin ``set`` for the one operation DeferredLinker uses
    (``in``); ``may_contain`` never returns False for an inserted key.
    """

    __slots__ = ("bits", "k", "m_bits")

    def __init__(self, bits: bytes, k: int, m_bits: int):
        self.bits = bits
        self.k = k
        self.m_bits = m_bits

    @staticmethod
    def positions(lang: str, surface: str, k: int, m_bits: int):
        # blake2b stays the key hash: hashlib is C-accelerated, and this runs
        # per mention lookup inside the extract UDF (the hot path) — a pure-
        # Python JVM-hash replica there would cost more than it saves at
        # build time.  The double-hash accumulator wraps at 64 bits so the
        # numpy-vectorized builder (uint64 arithmetic) computes identical
        # positions.
        d = hashlib.blake2b(
            lang.encode("utf-8") + b"\x00" + surface.encode("utf-8"), digest_size=16
        ).digest()
        h1 = int.from_bytes(d[:8], "little")
        h2 = int.from_bytes(d[8:], "little") | 1
        return [((h1 + i * h2) & 0xFFFFFFFFFFFFFFFF) % m_bits for i in range(k)]

    def __contains__(self, key) -> bool:
        lang, surface = key
        for pos in self.positions(lang, surface, self.k, self.m_bits):
            if not (self.bits[pos >> 3] >> (pos & 7)) & 1:
                return False
        return True

    def __len__(self) -> int:  # diagnostic only: number of set bits
        return sum(bin(b).count("1") for b in self.bits)


def _params(n: int, fpp: float) -> tuple[int, int]:
    m_bits = max(1024, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m_bits = (m_bits + 63) // 64 * 64
    k = max(1, round(m_bits / n * math.log(2)))
    return m_bits, min(k, 32)


def build_bloom(keys: DataFrame, fpp: float = 1e-6) -> BloomSet:
    """keys(lang, surface) -> BloomSet, built without collecting any rows.

    Stage 1 (narrow): one bitmap per input partition.  Stage 2: OR-reduce on
    a single executor.  The driver receives exactly one m/8-byte row.  At
    10^8 keys / fpp 1e-3 the bitmap is ~180 MB — broadcastable, where the raw
    Python surface set would be several GB of driver + executor heap.
    """
    import numpy as np
    import pandas as pd

    # a key with a NULL part is never probed (sentinel keys are strings)
    keys = keys.select("lang", "surface").dropna()
    # sizing count: exact row count straight from the plan when the key set
    # collapsed to a LocalRelation (zero jobs — tiny driver jobs cost ~0.3 s
    # of scheduling latency each on a busy driver); a count job otherwise
    from .stats import local_relation_rows

    n_local = local_relation_rows(keys)
    n = n_local if n_local is not None else keys.count()
    if n == 0:
        return BloomSet(b"\x00" * 128, 1, 1024)
    m_bits, k = _params(n, fpp)
    n_bytes = m_bits // 8

    # PERF (r7, guide §1.2/§5): when the key set collapsed to a LocalRelation
    # the rows already live in the driver JVM — LocalTableScanExec.collect()
    # short-circuits without scheduling tasks, so build the bitmap right here
    # instead of paying two Python stages + a shuffle + a collect (~0.6 s of
    # pure scheduling for a fixture-sized index).  Same hash kernel, same
    # m/k, bit-identical bitmap.  A real dump-backed index (file scan) never
    # collapses to a LocalRelation, so the distributed path still owns scale;
    # the row bound caps driver work even for a pathological local plan.
    if n_local is not None and n_local <= (1 << 20):
        import numpy as np

        bits = np.zeros(n_bytes, dtype=np.uint8)
        rows = keys.collect()
        if rows:
            ii = np.arange(k, dtype=np.uint64)
            digests = b"".join(
                hashlib.blake2b(
                    r[0].encode("utf-8") + b"\x00" + r[1].encode("utf-8"),
                    digest_size=16,
                ).digest()
                for r in rows
            )
            raw = np.frombuffer(digests, dtype="<u8").reshape(-1, 2)
            h1, h2 = raw[:, 0], raw[:, 1] | np.uint64(1)
            pos = (h1[:, None] + ii[None, :] * h2[:, None]) % np.uint64(m_bits)
            byte_idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
            masks = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)).ravel()
            np.bitwise_or.at(bits, byte_idx, masks)
        return BloomSet(bits.tobytes(), k, m_bits)

    def partition_bitmap(batches):
        # per-key python work is ONE C-level blake2b call; positions and
        # bit-setting are vectorized (k positions per key via uint64
        # broadcasting, duplicate-safe np.bitwise_or.at) — ~20x faster than
        # the per-position python loop at 10^5+ keys per partition
        bits = np.zeros(n_bytes, dtype=np.uint8)
        ii = np.arange(k, dtype=np.uint64)
        blake2b = hashlib.blake2b
        for pdf in batches:
            if not len(pdf):
                continue
            digests = b"".join(
                blake2b(
                    lang.encode("utf-8") + b"\x00" + surface.encode("utf-8"),
                    digest_size=16,
                ).digest()
                for lang, surface in zip(pdf["lang"], pdf["surface"])
            )
            raw = np.frombuffer(digests, dtype="<u8").reshape(-1, 2)
            h1, h2 = raw[:, 0], raw[:, 1] | np.uint64(1)
            # uint64 wraparound == the (& 2^64-1) in BloomSet.positions
            pos = (h1[:, None] + ii[None, :] * h2[:, None]) % np.uint64(m_bits)
            byte_idx = (pos >> np.uint64(3)).astype(np.int64).ravel()
            masks = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)).ravel()
            np.bitwise_or.at(bits, byte_idx, masks)
        yield pd.DataFrame({"bm": [bits.tobytes()]})

    def or_reduce(batches):
        acc = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            for bm in pdf["bm"]:
                acc |= np.frombuffer(bm, dtype=np.uint8)
        yield pd.DataFrame({"bm": [acc.tobytes()]})

    bitmaps = keys.mapInPandas(
        partition_bitmap, schema="bm binary"
    )
    # Two-level OR-reduce: funneling one bitmap per input partition straight
    # into a single task is O(P * m/8) bytes through one task — at 10^8 keys
    # (m/8 ~ 0.5 GB) and ~10^3 partitions that is ~0.5 TB of single-task
    # fan-in.  Reduce to ~sqrt(P) intermediate tasks first, so no task ever
    # reads more than O(sqrt(P) * m/8) bytes; OR is associative/commutative,
    # so the bitmap is identical either way.
    p = bitmaps.rdd.getNumPartitions()
    if p >= 16:
        fan = math.isqrt(p)
        bitmaps = bitmaps.repartition(fan).mapInPandas(or_reduce, schema="bm binary")
    (row,) = bitmaps.repartition(1).mapInPandas(or_reduce, schema="bm binary").collect()
    return BloomSet(bytes(row["bm"]), k, m_bits)
