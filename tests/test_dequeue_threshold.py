"""The large-k threshold dequeue must return EXACTLY the same set as the
naive global ordering (D2 semantics preserved while removing the single-task
top-K merge)."""

from __future__ import annotations

import random

from planner_ref import planner_dequeue, reference_dequeue

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import CrawlConfig


def _random_frontier(spark, n=5000, seed=3):
    rng = random.Random(seed)
    rows = [
        (
            f"id{i:05d}", f"http://h{rng.randint(0, 20)}.com/{i}", f"h{rng.randint(0, 20)}.com",
            ["t"], rng.choice([0, 0, 0, 1, 2]), rng.choice([0, 10, 900, 1000]), rng.randint(0, 6),
            0, 0, None, None, None, None, i % 8,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)


def test_threshold_equals_naive(spark):
    fr = _random_frontier(spark)
    cfg = CrawlConfig(max_attempt_count=5)
    for k in (1, 7, 100, 1234, 3000):
        eligible = fr.where((fr.status == 0) & (fr.attempt < 5))
        naive = {
            r["url_id"]
            for r in eligible.orderBy(
                FR.F.desc("priority"), FR.F.asc("attempt"), FR.F.asc("url_id")
            ).limit(k).collect()
        }
        fast = {r["url_id"] for r in FR._dequeue_threshold(eligible, k).collect()}
        assert fast == naive, f"k={k}"


def test_dequeue_uses_threshold_above_cutoff(spark, monkeypatch):
    """The planner picks its plan form by k: the threshold walk (offsets)
    above the cutoff, TakeOrdered below it — same rows as the reference."""
    monkeypatch.setattr(FR, "_TOPK_THRESHOLD_CUTOFF", 50)
    fr = _random_frontier(spark, n=1000, seed=9)
    cfg = CrawlConfig(max_attempt_count=5)
    dq, offsets, _ = planner_dequeue(fr, cfg, 200)
    assert offsets is not None
    via_threshold = {r["url_id"] for r in dq.collect()}
    monkeypatch.setattr(FR, "_TOPK_THRESHOLD_CUTOFF", 10_000)
    dq, offsets, _ = planner_dequeue(fr, cfg, 200)
    assert offsets is None
    via_naive = {r["url_id"] for r in dq.collect()}
    assert via_threshold == via_naive == set(reference_dequeue(fr, cfg, 200))
