"""J3-NR: partitioned bloom URL-seen prefilter (SURVEY.md §2.5-J3, §4).

Why: at the 10^10-row design point the per-round exact anti-join of candidate
links vs the frontier is the dominant shuffle. Most extracted links are
duplicates of already-seen URLs late in a crawl — but early on, most are NEW,
and a bloom filter answers "definitely not seen" without touching the
frontier. Candidates that the bloom rejects skip the exact join entirely;
only bloom-positives (true dups + fpr false positives) shuffle into the
anti-join. Spark's built-in runtime bloom (InjectRuntimeFilter) only works
within one query, not across round-persisted state — hence explicit filters.

Design:
- one bloom per frontier partition ``part`` (bounded size per filter; at
  cluster scale these live next to the Iceberg partition as round artifacts
  and are rebuilt incrementally from the round's inserts),
- hash values are computed JVM-side (two xxhash64 columns); the Python side
  does only vectorized numpy bit arithmetic on Arrow batches — no per-row
  Python, per the input_hint,
- membership test = double hashing: idx_i = h1 + i·h2 (mod m), the standard
  Kirsch-Mitzenmacher construction.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _params(n: int, fpr: float) -> tuple[int, int]:
    """(bits m, hashes k) for n keys at target fpr; m rounded to bytes."""
    n = max(n, 1)
    m = int(-n * math.log(fpr) / (math.log(2) ** 2))
    m = max((m + 7) // 8 * 8, 64)
    k = max(int(round(m / n * math.log(2))), 1)
    return m, min(k, 16)


def _h1h2(url_id: Column) -> tuple[Column, Column]:
    # JVM-side 64-bit hashes; uint64 semantics recovered in numpy
    return F.xxhash64(url_id), F.xxhash64(url_id, F.lit(1))


def _fold_into(bits: np.ndarray, m: int, k: int, a: np.ndarray, b: np.ndarray) -> None:
    """Set the k double-hash bit positions of every key (a, b) in ``bits``."""
    for i in range(k):
        idx = (a + np.uint64(i) * b) % np.uint64(m)
        np.bitwise_or.at(bits, (idx // 8).astype(np.int64), (1 << (idx % 8)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, m: int, k: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership test (no false negatives) for keys (a, b); bool array."""
    hit = np.ones(len(a), dtype=bool)
    for i in range(k):
        idx = (a + np.uint64(i) * b) % np.uint64(m)
        hit &= (bitmap[(idx // 8).astype(np.int64)] & (1 << (idx % 8)).astype(np.uint8)) != 0
    return hit


class PartitionedBloom:
    """part → (bitmap bytes, m, k), plus part → keys folded in (``counts``).
    Built distributed, collected as compact bitmaps (m/8 bytes each),
    broadcast for the probe side."""

    def __init__(self, filters: dict[int, tuple[bytes, int, int]],
                 expected_per_part: int | None = None, counts: dict[int, int] | None = None):
        self.filters = filters
        self.expected_per_part = expected_per_part
        self.counts = counts or {}
        self._bcast = None  # lazy sc.broadcast handle (see might_contain)

    @property
    def overfull(self) -> bool:
        """A part holds more keys than the presize (at 4× it, ~68% of unseen
        keys pass a filter sized for 1%)."""
        cap = self.expected_per_part
        return cap is not None and any(n > cap for n in self.counts.values())

    def broadcast_bytes(self) -> int:
        """Total bitmap payload that one executor holds (all parts)."""
        return sum(len(bm) for bm, _, _ in self.filters.values())

    def _release_broadcast(self) -> None:
        if self._bcast is not None:
            # unpersist (not destroy): frees executor copies now, but the
            # driver can lazily re-ship if this instance is probed again
            self._bcast.unpersist()
            self._bcast = None

    def union(self, other: "PartitionedBloom") -> "PartitionedBloom":
        """Incremental growth (per-round): OR the bitmaps of filters built
        with the SAME (m, k) presizing — rebuild over 10^10 rows every round
        is exactly what this avoids; only the round's inserts get hashed.
        Both inputs' executor broadcast copies are released (consumed)."""
        merged = dict(self.filters)
        counts = {p: self.counts.get(p, 0) + other.counts.get(p, 0)
                  for p in {*self.counts, *other.counts}}
        for p, (bm, m, k) in other.filters.items():
            if p in merged:
                bm0, m0, k0 = merged[p]
                if (m0, k0) != (m, k):
                    raise ValueError(f"incompatible bloom sizing for part {p}: {(m0, k0)} vs {(m, k)}")
                merged[p] = (bytes(a | b for a, b in zip(bm0, bm)), m, k)
            else:
                merged[p] = (bm, m, k)
        self._release_broadcast()
        other._release_broadcast()
        return PartitionedBloom(merged, self.expected_per_part or other.expected_per_part, counts)

    @staticmethod
    def build(frontier: DataFrame, fpr: float = 0.01, expected_per_part: int | None = None) -> "PartitionedBloom":
        """One aggregation pass: group url_id hashes by part, fold each group
        into a bitmap with numpy (applyInPandas — Arrow batches, vectorized).

        Pass ``expected_per_part`` (capacity presizing) when the filter will
        grow incrementally via :meth:`union` — all increments must share it.
        Presized builds skip the per-part count job entirely (every part gets
        the same (m, k), so sizing needs no data statistics).
        """
        if expected_per_part is not None:
            sizes = None
            fixed = _params(expected_per_part, fpr)
        else:
            counts = {r["part"]: r["n"] for r in frontier.groupBy("part").agg(F.count("*").alias("n")).collect()}
            if not counts:
                return PartitionedBloom({}, expected_per_part)
            sizes = {p: _params(n, fpr) for p, n in counts.items()}
            fixed = None
        h1, h2 = _h1h2(F.col("url_id"))
        hashed = frontier.select("part", h1.alias("h1"), h2.alias("h2"))

        schema = T.StructType([
            T.StructField("part", T.IntegerType()),
            T.StructField("bitmap", T.BinaryType()),
            T.StructField("m", T.IntegerType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("n", T.LongType()),
        ])

        def fold(pdf: pd.DataFrame) -> pd.DataFrame:
            part = int(pdf["part"].iloc[0])
            m, k = fixed if fixed is not None else sizes[part]
            bits = np.zeros(m // 8, dtype=np.uint8)
            a = pdf["h1"].to_numpy(dtype=np.int64).astype(np.uint64)
            b = pdf["h2"].to_numpy(dtype=np.int64).astype(np.uint64)
            _fold_into(bits, m, k, a, b)
            return pd.DataFrame({"part": [part], "bitmap": [bits.tobytes()], "m": [m], "k": [k], "n": [len(pdf)]})

        rows = hashed.groupBy("part").applyInPandas(fold, schema).collect()
        filters = {r["part"]: (bytes(r["bitmap"]), r["m"], r["k"]) for r in rows}
        return PartitionedBloom(filters, expected_per_part, {r["part"]: r["n"] for r in rows})

    def add_local(
        self, parts: np.ndarray, h1: np.ndarray, h2: np.ndarray, fpr: float = 0.01
    ) -> "PartitionedBloom":
        """Driver-side incremental growth from collected key hashes (the
        k-bounded dual of :meth:`union`): fold the new keys into COPIES of
        the affected per-part bitmaps, and count them. Requires
        ``expected_per_part`` presizing (all parts share one (m, k)).
        Executor broadcast copies of the old version are released."""
        if not self.expected_per_part:
            raise ValueError("add_local requires expected_per_part presizing")
        m, k = _params(self.expected_per_part, fpr)
        merged, counts = dict(self.filters), dict(self.counts)
        a_all = h1.astype(np.int64).astype(np.uint64)
        b_all = h2.astype(np.int64).astype(np.uint64)
        for p in np.unique(parts):
            mask = parts == p
            prev = merged.get(int(p))
            if prev is not None:
                if (prev[1], prev[2]) != (m, k):
                    raise ValueError(f"incompatible bloom sizing for part {p}")
                bits = np.frombuffer(prev[0], dtype=np.uint8).copy()
            else:
                bits = np.zeros(m // 8, dtype=np.uint8)
            _fold_into(bits, m, k, a_all[mask], b_all[mask])
            merged[int(p)] = (bits.tobytes(), m, k)
            counts[int(p)] = counts.get(int(p), 0) + int(mask.sum())
        self._release_broadcast()
        return PartitionedBloom(merged, self.expected_per_part, counts)

    def might_contain(self, df: DataFrame, url_id_col: str = "url_id", part_col: str = "part") -> DataFrame:
        """Adds boolean ``_maybe_seen``: False ⇒ definitely NOT in the
        frontier (skip the exact join); True ⇒ verify exactly.

        The bitmap dict ships via ``sc.broadcast`` ONCE per filter version
        (torrent-style executor fan-out, fetched on first task, cached per
        executor) — NOT closure-captured, which would re-serialize the whole
        filter (~1.2 GB per 10^9 keys at 1% fpr) into every task binary. At
        cluster scale the next step beyond a single broadcast is keeping the
        bitmaps as a (part, bitmap) table storage-partitioned alongside the
        frontier so each task reads only its partition's bitmap; the probe
        below is already per-part, so only the delivery mechanism changes."""
        if self._bcast is None:
            self._bcast = df.sparkSession.sparkContext.broadcast(self.filters)
        bcast = self._bcast  # closure holds the small handle, not the dict
        h1, h2 = _h1h2(F.col(url_id_col))
        probe = df.withColumn("_h1", h1).withColumn("_h2", h2)

        @F.pandas_udf("boolean")
        def maybe_seen(part: pd.Series, h1s: pd.Series, h2s: pd.Series) -> pd.Series:
            filters = bcast.value
            out = np.zeros(len(part), dtype=bool)
            parts = part.to_numpy()
            a_all = h1s.to_numpy(dtype=np.int64).astype(np.uint64)
            b_all = h2s.to_numpy(dtype=np.int64).astype(np.uint64)
            for p in np.unique(parts):
                f = filters.get(int(p))
                mask = parts == p
                if f is None:
                    continue  # no filter for this part ⇒ definitely new
                bitmap = np.frombuffer(f[0], dtype=np.uint8)
                out[mask] = _test_bits(bitmap, f[1], f[2], a_all[mask], b_all[mask])
            return pd.Series(out)

        return probe.withColumn(
            "_maybe_seen", maybe_seen(F.col(part_col), F.col("_h1"), F.col("_h2"))
        ).drop("_h1", "_h2")


def prefiltered_new_rows(candidates: DataFrame, frontier: DataFrame, bloom: PartitionedBloom) -> DataFrame:
    """Candidates not in the frontier, with the bloom shortcut:
    definitely-new rows bypass the shuffle; only maybe-seen rows anti-join.
    Exactness preserved (bloom has no false negatives)."""
    probed = bloom.might_contain(candidates)
    certain_new = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
    suspects = probed.where(F.col("_maybe_seen")).drop("_maybe_seen")
    verified_new = suspects.join(frontier.select("url_id"), "url_id", "left_anti")
    return certain_new.unionByName(verified_new)
