"""The fused round planner (frontier.plan_dequeue: one grouping-sets job for
the politeness probe + top-K histogram) must be EXACTLY equivalent to the legacy two-job path
(over_budget_hosts → apply_host_cap → topk_from_eligible) and to the
driver-side lineage rank (dequeue_order_table)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import CrawlConfig, Politeness


def _skewed_frontier(spark, n=4000, seed=11):
    """~half the rows on one hot host, the rest spread thin."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        host = "hot.example.com" if rng.random() < 0.5 else f"h{rng.randint(0, 80)}.example.com"
        rows.append(
            (
                f"id{i:05d}", f"http://{host}/{i}", host, ["t"],
                rng.choice([0, 0, 0, 2]), rng.choice([0, 10, 900]), rng.randint(0, 2),
                0, 0, None, None, None, i % 8,
            )
        )
    return spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)


def _legacy(eligible, cfg, k, host_budgets=None):
    over = FR.over_budget_hosts(eligible, cfg, host_budgets)
    capped = FR.apply_host_cap(eligible, cfg, over, host_budgets)
    return FR.topk_from_eligible(capped, k)


def test_plan_dequeue_matches_legacy_with_binding_cap(spark, monkeypatch):
    """Over-budget host present AND k above the threshold cutoff — exercises
    the histogram-subtraction (capped_hist = raw − beyond) path."""
    monkeypatch.setattr(FR, "_TOPK_THRESHOLD_CUTOFF", 50)
    fr = _skewed_frontier(spark)
    cfg = CrawlConfig(
        max_attempt_count=5, politeness=Politeness(budget_per_host_per_round=40)
    )
    eligible = FR.eligible_raw(fr, cfg)
    for k in (60, 400, 1500):
        want = {r["url_id"] for r in _legacy(eligible, cfg, k).collect()}
        dq, offsets, planned_n = FR.plan_dequeue(eligible, cfg, k)
        got = {r["url_id"] for r in dq.collect()}
        assert got == want, f"k={k}"
        assert offsets is not None  # threshold path ran fused
        assert planned_n == len(got)  # walk count is exact


def test_plan_dequeue_offsets_give_exact_lineage(spark, monkeypatch):
    """The threshold walk's bucket offsets must agree with the contiguous
    global D2 rank the crawler's driver-side lineage (dequeue_order_table)
    assigns to the collected batch: each touched bucket starts at its walk
    offset, and the ranks are exactly 0..planned_n-1."""
    monkeypatch.setattr(FR, "_TOPK_THRESHOLD_CUTOFF", 50)
    fr = _skewed_frontier(spark, seed=12)
    cfg = CrawlConfig(
        max_attempt_count=5, politeness=Politeness(budget_per_host_per_round=35)
    )
    eligible = FR.eligible_raw(fr, cfg)
    dq, offsets, planned_n = FR.plan_dequeue(eligible, cfg, 700)
    batch = dq.toArrow()
    lineage = FR.dequeue_order_table(batch, 1).to_pylist()
    assert [r["seq"] for r in lineage] == list(range(planned_n))
    assert batch.num_rows == planned_n
    cls = {r["url_id"]: (r["priority"], r["attempt"]) for r in batch.to_pylist()}
    first_seq: dict[tuple, int] = {}
    for r in lineage:
        p, a = cls[r["url_id"]]
        first_seq.setdefault((p, a, r["url_id"][:3]), r["seq"])
    assert first_seq == {(p, a, pfx): off for p, a, pfx, off in offsets}
    # D2 order, Spark's byte order on url_id, checked against a Spark sort
    want = [
        r["url_id"] for r in spark.createDataFrame(batch)
        .orderBy(F.desc("priority"), F.asc("attempt"), F.asc("url_id")).collect()
    ]
    assert [r["url_id"] for r in lineage] == want


def test_plan_dequeue_no_budget_single_job(spark, monkeypatch):
    """No politeness config: planner must reduce to plain topk semantics."""
    monkeypatch.setattr(FR, "_TOPK_THRESHOLD_CUTOFF", 50)
    fr = _skewed_frontier(spark, seed=13)
    cfg = CrawlConfig(max_attempt_count=5)
    eligible = FR.eligible_raw(fr, cfg)
    want = {r["url_id"] for r in FR.topk_from_eligible(eligible, 300).collect()}
    dq, offsets, planned_n = FR.plan_dequeue(eligible, cfg, 300)
    assert {r["url_id"] for r in dq.collect()} == want
    assert offsets is not None and planned_n == len(want)


def test_plan_dequeue_k_none_with_budget(spark):
    """k=None + per-host budgets (the robots path): host-slice-only probe."""
    fr = _skewed_frontier(spark, seed=14)
    cfg = CrawlConfig(
        max_attempt_count=5, politeness=Politeness(budget_per_host_per_round=25)
    )
    eligible = FR.eligible_raw(fr, cfg)
    want = {r["url_id"] for r in _legacy(eligible, cfg, None).collect()}
    dq, offsets, planned_n = FR.plan_dequeue(eligible, cfg, None)
    assert {r["url_id"] for r in dq.collect()} == want
    assert offsets is None and planned_n is None
    # the cap binds: hot host must be limited to the budget
    hot = dq.where(F.col("host") == "hot.example.com").count()
    assert hot == 25
