"""Scale/skew tests (SURVEY.md §5.6): a hot host with 100× links — politeness
budget caps its per-round share, salting bounds partition sizes."""

from __future__ import annotations

from collections import Counter

from planner_ref import planner_dequeue
from pyspark.sql import functions as F

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import CrawlConfig, Politeness
from dumb_crawler_spark.corpus import canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler


def test_hot_host_budget_respected(spark, tmp_path):
    # hot.example.com carries 200 pages vs ~36 on site.example.com
    docs, url_of = generate_web(n_articles=20, n_hot=200, seed=5)
    cfg = canonical_config(
        seeds=("http://site.example.com/", "http://hot.example.com/articles/0"),
        politeness=Politeness(budget_per_host_per_round=4),
        thread_count=16,  # round k=32 >> per-host budget
    )
    c = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path / "wh")
    c.run(max_rounds=5)
    dq = c.dequeue_order().collect()
    fr = {r["url_id"]: r["host"] for r in c.wh.read_frontier().select("url_id", "host").collect()}
    per_round_host = Counter((r["round"], fr[r["url_id"]]) for r in dq)
    assert per_round_host, "no dequeues happened"
    for (rnd, host), n in per_round_host.items():
        assert n <= 4, f"politeness budget violated: {host} got {n} in round {rnd}"
    # the hot host is actually being crawled (budget throttles, not starves)
    assert any(h == "hot.example.com" for (_, h) in per_round_host)


def test_salting_bounds_partition_sizes(spark):
    """One mega-host (90% of rows): with salt S its rows spread over up to S
    partition buckets instead of one (SURVEY.md §4 skew row)."""
    cfg = CrawlConfig(partitions=16, salt=8, tagger={}, priorities={})
    urls = spark.range(2000).select(
        F.when(F.col("id") % 10 != 0, F.concat(F.lit("http://mega.example.com/p"), F.col("id").cast("string")))
        .otherwise(F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"), F.lit(".com/p"), F.col("id").cast("string")))
        .alias("url")
    )
    cands = FR.UrlKernel(cfg).candidates(urls)
    dist = (
        cands.where(F.col("host") == "mega.example.com")
        .groupBy("part").count().collect()
    )
    parts = {r["part"]: r["count"] for r in dist}
    assert len(parts) > 1, "salting did not spread the hot host"
    total = sum(parts.values())
    assert max(parts.values()) < total * 0.5, f"one part still holds most of the hot host: {parts}"


def test_dequeue_plan_shapes(spark):
    """Plan checks on the planner's plans: the dequeue compiles to
    TakeOrderedAndProject (per-partition heap, no global sort); the
    politeness window materializes ONLY for hosts that actually exceed their
    budget — an all-under-budget frontier must not shuffle a single row for
    the cap, and with one hot host over budget the window sees only its rows."""
    from dumb_crawler_spark.config import Politeness

    def shape(fr, cfg, k=10):
        dq, _ = planner_dequeue(fr, cfg, k)
        return dq, dq._jdf.queryExecution().executedPlan().toString()

    cfg = CrawlConfig()
    fr = FR.empty_frontier(spark)
    _, plan = shape(fr, cfg)
    assert "TakeOrderedAndProject" in plan
    cfg2 = CrawlConfig(politeness=Politeness(budget_per_host_per_round=2))
    # under-budget everywhere (empty frontier) → cap is a no-op, no Window
    _, plan_under = shape(fr, cfg2)
    assert "Window" not in plan_under
    # one hot host over budget → Window appears, scoped to the hot subset
    rows = [(f"u{i}", f"http://hot.example.com/{i}", "hot.example.com", ["t"], 0, 5, 0, 0, 0, None, None, None, None, 0) for i in range(5)]
    rows.append(("c0", "http://cold.example.com/0", "cold.example.com", ["t"], 0, 5, 0, 0, 0, None, None, None, None, 0))
    hot = spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)
    dq, plan_over = shape(hot, cfg2)
    assert "Window" in plan_over and "TakeOrderedAndProject" in plan_over
    assert "hot.example.com" in plan_over and "cold.example.com" not in plan_over
    got = Counter(r["host"] for r in dq.collect())
    assert got == {"hot.example.com": 2, "cold.example.com": 1}  # budget rows from the hot host
