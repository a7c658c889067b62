"""The dequeue planner (planner.py) must reproduce the oracle over whole
crawls, equal the plain-Python reference on hand-built frontiers, and keep
its driver-held state in perfect sync with the true eligible set after
every round's algebraic update."""

from __future__ import annotations

from planner_ref import planner_dequeue, reference_dequeue

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import Politeness
from dumb_crawler_spark.corpus import canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.oracle import OracleCrawler


def test_on_dequeued_subtracts_batch_cells():
    """The driver-side decrement: the collected batch's rows leave the total
    and its hosts leave the host counts exactly; emptied hosts go; an
    over-subtraction raises instead of drifting."""
    import pyarrow as pa
    import pytest

    from dumb_crawler_spark.config import CrawlConfig, Politeness
    from dumb_crawler_spark.planner import IncrementalPlanner

    pl = IncrementalPlanner(CrawlConfig(politeness=Politeness(budget_per_host_per_round=9)))
    pl.total = 10
    pl.hosts = {"a.com": 7, "b.com": 3}
    batch = pa.table({
        "url_id": ["0a1x", "0a1y", "1f0z", "000q", "000r", "000s"],
        "priority": pa.array([900, 900, 900, 10, 10, 10], pa.int32()),
        "attempt": pa.array([0, 0, 1, 0, 0, 0], pa.int32()),
        "host": ["a.com", "a.com", "b.com", "b.com", "b.com", "a.com"],
    })
    pl.on_dequeued(batch)
    assert pl.total == 4
    assert pl.hosts == {"a.com": 4}
    with pytest.raises(AssertionError, match="underflow"):
        pl.on_dequeued(batch)
    pl.total = 100  # the host counts underflow on their own too
    with pytest.raises(AssertionError, match="host-count underflow"):
        pl.on_dequeued(batch)


def _crawl(spark, tmp_path, docs, cfg, rounds):
    c = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path)
    c.run(max_rounds=rounds)
    return c


def _order(c):
    return [
        (r["round"], r["seq"], r["url_id"])
        for r in c.dequeue_order().orderBy("round", "seq").collect()
    ]


def test_incremental_crawl_equals_legacy_with_budget(spark, tmp_path):
    """Whole crawl with a BINDING politeness budget: the planner (total/host
    algebra + window cap) must reproduce the oracle bit-for-bit — dequeue
    order, counters, final frontier."""
    docs, _ = generate_web(n_articles=40, seed=42)
    cfg = canonical_config(politeness=Politeness(budget_per_host_per_round=3), thread_count=4)
    inc = _crawl(spark, tmp_path / "inc", docs, cfg, 5)
    ref = OracleCrawler(cfg, docs).run(max_rounds=5)
    assert inc._planner.ready and inc._planner.hosts is not None
    assert _order(inc) == ref.dequeue_order
    assert inc.metrics_total() == {k: v for k, v in ref.counters.items() if v}
    f_inc = {(r["url_id"], r["status"], r["attempt"]) for r in inc.wh.read_frontier().collect()}
    assert f_inc == {(e.url_id, e.status, e.attempt) for e in ref.frontier.values()}


def test_planner_state_matches_full_recount(spark, tmp_path):
    """After N incremental rounds the driver-held total and host counts
    must equal a from-scratch count of the true eligible set — the algebra
    (seed − taken + inserts) drifts by exactly zero."""
    docs, _ = generate_web(n_articles=40, seed=7)
    cfg = canonical_config(politeness=Politeness(budget_per_host_per_round=4), thread_count=3)
    c = _crawl(spark, tmp_path, docs, cfg, 4)
    assert c._planner.ready
    last = c.wh.last_committed_round()
    eligible = FR.eligible_raw(c.wh.read_frontier_queued(last), cfg)
    truth_hosts = {r["host"]: r["count"] for r in eligible.groupBy("host").count().collect()}
    assert c._planner.total == eligible.count()
    assert c._planner.hosts == truth_hosts


def test_incremental_without_budget(spark, tmp_path):
    """No politeness budget: the planner tracks only the eligible total; the
    crawl must still match the oracle exactly."""
    docs, _ = generate_web(n_articles=30, seed=9)
    cfg = canonical_config()
    inc = _crawl(spark, tmp_path / "inc", docs, cfg, 4)
    ref = OracleCrawler(cfg, docs).run(max_rounds=4)
    assert inc._planner.ready and inc._planner.hosts is None
    assert _order(inc) == ref.dequeue_order
    assert inc.metrics_total() == {k: v for k, v in ref.counters.items() if v}


def test_planner_many_over_hosts_window_fallback(spark):
    """VERDICT r03 item 3 (adversarial): 500 over-budget hosts — a budget
    modestly below typical host size, not degenerate. The per-host window
    over just the over set keeps the plan's size bounded, and the plan
    still equals the reference row-for-row."""
    import hashlib as _hl

    from dumb_crawler_spark.config import CrawlConfig

    budget, n_hosts, per_host = 2, 500, 4
    rows = []
    for h in range(n_hosts):
        for j in range(per_host):
            uid = _hl.md5(f"{h}-{j}".encode()).hexdigest()
            rows.append((
                uid, f"http://h{h}.example.com/{j}", f"h{h}.example.com",
                ["t"], 0, 100 + (j % 2), 0, 0, 0, None, None, None, None, h % 8,
            ))
    fr = spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)
    cfg = CrawlConfig(politeness=Politeness(budget_per_host_per_round=budget))
    dq, taken = planner_dequeue(fr, cfg, 600)
    got = sorted(r["url_id"] for r in dq.collect())
    want = sorted(reference_dequeue(fr, cfg, 600))
    assert taken == len(want) == 600
    assert got == want


def test_incremental_dq_plan_pushes_down(spark, tmp_path):
    """The incremental path's dequeue plan reads the frontier parquet
    DIRECTLY (no eligible cache) — so the queued and attempt filters must
    reach the scan as PushedFilters, and the scan must stay column-pruned.
    This is the plan shape that makes skipping the per-round cache a win,
    not a regression."""
    docs, _ = generate_web(n_articles=40, seed=21)
    cfg = canonical_config(politeness=Politeness(budget_per_host_per_round=3), thread_count=4)
    c = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path)
    c.run(max_rounds=2)
    assert c._planner.ready
    eligible = FR.eligible_raw(c.wh.read_frontier_queued(), cfg)
    dq, _ = c._planner.plan(eligible, 8)
    plan = dq._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "EqualTo(status,0)" in plan or "IsNotNull(status)" in plan, plan[:2000]
    assert "attempt" in plan.split("PushedFilters")[1][:400], plan[:2000]
    # no InMemoryTableScan: the plan must read parquet, not a cache
    assert "InMemoryTableScan" not in plan
