"""J3-NR: partitioned bloom URL-seen prefilter (SURVEY.md §2.5-J3, §4).

Why: at the 10^10-row design point the exact seen-check of candidate links
against the frontier is the dominant join. Most extracted links are
duplicates of already-seen URLs late in a crawl — but early on, most are NEW,
and a bloom filter answers "definitely not seen" without touching the
frontier. Candidates that the bloom rejects skip the exact check entirely;
only bloom-positives (true dups + fpr false positives) are verified against
the frontier's ids. Spark's built-in runtime bloom (InjectRuntimeFilter) only
works within one query, not across round-persisted state — hence explicit
filters.

Design:
- one bloom per frontier partition ``part`` (bounded size per filter; at
  cluster scale these live next to the Iceberg partition as round artifacts
  and are rebuilt incrementally from the round's inserts),
- hash values are computed JVM-side (two xxhash64 columns); the Python side
  does only vectorized numpy bit arithmetic on Arrow columns — no per-row
  Python, per the input_hint,
- the probe runs on the driver (:meth:`PartitionedBloom.probe`), over the
  round's candidate links, which the link ingest collects as Arrow anyway
  (frontier.UrlKernel.ingest): no UDF, no broadcast, no second plan branch,
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


def _keys(h1: np.ndarray, h2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Spark's signed xxhash64 longs as the uint64 keys the bit math uses."""
    return h1.astype(np.int64).astype(np.uint64), h2.astype(np.int64).astype(np.uint64)


class PartitionedBloom:
    """part → (bitmap bytes, m, k), plus part → keys folded in (``counts``).
    Built distributed, collected as compact bitmaps (m/8 bytes each), then
    grown and probed on the driver."""

    def __init__(self, filters: dict[int, tuple[bytes, int, int]], expected_per_part: int,
                 counts: dict[int, int] | None = None):
        self.filters = filters
        self.expected_per_part = expected_per_part
        self.counts = counts or {}

    @property
    def overfull(self) -> bool:
        """A part holds more keys than the presize (at 4× it, ~68% of unseen
        keys pass a filter sized for 1%)."""
        return any(n > self.expected_per_part for n in self.counts.values())

    def broadcast_bytes(self) -> int:
        """Total bitmap payload (all parts)."""
        return sum(len(bm) for bm, _, _ in self.filters.values())

    def union(self, other: "PartitionedBloom") -> "PartitionedBloom":
        """OR the bitmaps of filters built with the SAME (m, k) presizing."""
        merged = dict(self.filters)
        counts = {p: self.counts.get(p, 0) + other.counts.get(p, 0)
                  for p in {*self.counts, *other.counts}}
        for p, (bm, m, k) in other.filters.items():
            if p in merged:
                bm0, m0, k0 = merged[p]
                if (m0, k0) != (m, k):
                    raise ValueError(f"incompatible bloom sizing for part {p}: {(m0, k0)} vs {(m, k)}")
                bm = np.bitwise_or(np.frombuffer(bm0, np.uint8), np.frombuffer(bm, np.uint8)).tobytes()
            merged[p] = (bm, m, k)
        return PartitionedBloom(merged, self.expected_per_part, counts)

    @staticmethod
    def build(frontier: DataFrame, expected_per_part: int, fpr: float = 0.01) -> "PartitionedBloom":
        """One aggregation pass: group url_id hashes by part, fold each group
        into a bitmap with numpy (applyInPandas — Arrow batches, vectorized).
        Every part is presized for ``expected_per_part`` keys, so all share
        one (m, k) — the sizing the incremental growth (:meth:`add_local`,
        :meth:`union`) needs — and sizing needs no count job."""
        m, k = _params(expected_per_part, fpr)
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
            bits = np.zeros(m // 8, dtype=np.uint8)
            _fold_into(bits, m, k, *_keys(pdf["h1"].to_numpy(), pdf["h2"].to_numpy()))
            return pd.DataFrame({"part": [part], "bitmap": [bits.tobytes()], "m": [m], "k": [k], "n": [len(pdf)]})

        rows = hashed.groupBy("part").applyInPandas(fold, schema).collect()
        filters = {r["part"]: (bytes(r["bitmap"]), r["m"], r["k"]) for r in rows}
        return PartitionedBloom(filters, expected_per_part, {r["part"]: r["n"] for r in rows})

    def add_local(
        self, parts: np.ndarray, h1: np.ndarray, h2: np.ndarray, fpr: float = 0.01
    ) -> "PartitionedBloom":
        """Driver-side incremental growth from collected key hashes (the
        k-bounded dual of :meth:`union`): fold the new keys into COPIES of
        the affected per-part bitmaps, and count them."""
        m, k = _params(self.expected_per_part, fpr)
        merged, counts = dict(self.filters), dict(self.counts)
        a_all, b_all = _keys(h1, h2)
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
        return PartitionedBloom(merged, self.expected_per_part, counts)

    def probe(self, parts: np.ndarray, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Driver-side membership test of keys (part, h1, h2): False ⇒
        definitely NOT in the frontier; True ⇒ verify exactly."""
        out = np.zeros(len(parts), dtype=bool)
        a_all, b_all = _keys(h1, h2)
        for p in np.unique(parts):
            f = self.filters.get(int(p))
            if f is None:
                continue  # no filter for this part ⇒ definitely new
            mask = parts == p
            out[mask] = _test_bits(np.frombuffer(f[0], dtype=np.uint8), f[1], f[2], a_all[mask], b_all[mask])
        return out
