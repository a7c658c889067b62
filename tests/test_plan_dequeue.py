"""The dequeue planner (planner.IncrementalPlanner over the frontier.plan_dequeue
seed pass) must return EXACTLY the rows of the plain-Python reference (the
oracle's sort-then-cap rule) for small and large k, and its batch must take
the driver-side lineage rank (dequeue_order_table) in Spark's sort order."""

from __future__ import annotations

import random

from planner_ref import planner_dequeue, reference_dequeue
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
                0, 0, None, None, None, None, i % 8,
            )
        )
    return spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)


def test_plan_dequeue_matches_legacy_with_binding_cap(spark):
    """Over-budget host present, k from 30 to 1,500: the window cap +
    TakeOrdered plan equals the reference."""
    fr = _skewed_frontier(spark)
    cfg = CrawlConfig(
        max_attempt_count=5, politeness=Politeness(budget_per_host_per_round=40)
    )
    for k in (30, 60, 400, 1500):
        want = set(reference_dequeue(fr, cfg, k))
        dq, planned_n = planner_dequeue(fr, cfg, k)
        got = {r["url_id"] for r in dq.collect()}
        assert got == want, f"k={k}"
        assert planned_n == len(got)  # planned count is exact


def test_plan_dequeue_offsets_give_exact_lineage(spark):
    """The crawler's driver-side lineage (dequeue_order_table) of a collected
    batch: the ranks are exactly 0..planned_n-1, in Spark's D2 sort order,
    over the reference's rows."""
    fr = _skewed_frontier(spark, seed=12)
    cfg = CrawlConfig(
        max_attempt_count=5, politeness=Politeness(budget_per_host_per_round=35)
    )
    dq, planned_n = planner_dequeue(fr, cfg, 700)
    batch = dq.toArrow()
    lineage = FR.dequeue_order_table(batch, 1).to_pylist()
    assert [r["seq"] for r in lineage] == list(range(planned_n))
    assert batch.num_rows == planned_n
    # D2 order, Spark's byte order on url_id, checked against a Spark sort
    want = [
        r["url_id"] for r in spark.createDataFrame(batch)
        .orderBy(F.desc("priority"), F.asc("attempt"), F.asc("url_id")).collect()
    ]
    assert [r["url_id"] for r in lineage] == want
    assert want == reference_dequeue(fr, cfg, 700)


def test_plan_dequeue_no_budget_single_job(spark):
    """No politeness config: the seed pass only counts (no host counts) and
    the plan reduces to plain top-k semantics."""
    fr = _skewed_frontier(spark, seed=13)
    cfg = CrawlConfig(max_attempt_count=5)
    total, hosts = FR.plan_dequeue(FR.eligible_raw(fr, cfg), hosts=False)
    assert hosts is None and total == FR.eligible_raw(fr, cfg).count()
    want = set(reference_dequeue(fr, cfg, 300))
    dq, planned_n = planner_dequeue(fr, cfg, 300)
    assert {r["url_id"] for r in dq.collect()} == want
    assert planned_n == len(want)


def test_plan_dequeue_k_none_with_budget(spark):
    """A k that takes the whole capped set, with a binding per-host budget:
    the seed pass's host counts and total equal plain counts, and the plan
    equals the reference's uncut (k=None) capped set."""
    fr = _skewed_frontier(spark, seed=14)
    cfg = CrawlConfig(
        max_attempt_count=5, politeness=Politeness(budget_per_host_per_round=25)
    )
    eligible = FR.eligible_raw(fr, cfg)
    total, hosts = FR.plan_dequeue(eligible)
    assert hosts == {r["host"]: r["count"] for r in eligible.groupBy("host").count().collect()}
    assert total == eligible.count()
    want = set(reference_dequeue(fr, cfg, None))
    dq, planned_n = planner_dequeue(fr, cfg, total)
    assert {r["url_id"] for r in dq.collect()} == want
    assert planned_n == len(want)
    # the cap binds: hot host must be limited to the budget
    hot = dq.where(F.col("host") == "hot.example.com").count()
    assert hot == 25
