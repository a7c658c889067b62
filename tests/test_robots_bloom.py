"""North-rule additions: robots politeness (J6-NR) and the partitioned bloom
URL-seen prefilter (J3-NR). Bloom exactness = the ingest's inserts with the
bloom identical to those without it and to the plain anti-join (no false
negatives, false positives verified away)."""

from __future__ import annotations

from planner_ref import planner_dequeue, reference_dequeue
from pyspark.sql import functions as F

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.bloom import PartitionedBloom, _h1h2
from dumb_crawler_spark.config import CrawlConfig, Politeness
from dumb_crawler_spark.corpus import canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.robots import (
    ROBOTS_SCHEMA,
    filter_robots_allowed,
    host_budgets,
    parse_robots_txt,
)
from dumb_crawler_spark.storage import Warehouse

ROBOTS_TXT = """
# comments ignored
User-agent: googlebot
Disallow: /only-for-google

User-agent: *
Disallow: /private
Disallow: /tmp/
Crawl-delay: 2.5
"""


def test_parse_robots_txt():
    row = parse_robots_txt("site.example.com", ROBOTS_TXT)
    assert row == {
        "host": "site.example.com",
        "disallow": ["/private", "/tmp/"],
        "crawl_delay_ms": 2500,
    }


def test_filter_robots_allowed(spark):
    robots = spark.createDataFrame(
        [("site.example.com", ["/private", "/tmp/"], 2500)], ROBOTS_SCHEMA
    )
    cands = spark.createDataFrame(
        [
            ("a", "http://site.example.com/private/x", "site.example.com"),
            ("b", "http://site.example.com/public/x", "site.example.com"),
            ("c", "http://other.com/private/x", "other.com"),  # no robots row → allowed
            ("d", "http://site.example.com/tmp/y", "site.example.com"),
        ],
        "url_id string, url string, host string",
    )
    got = {r["url_id"] for r in filter_robots_allowed(cands, robots).collect()}
    assert got == {"b", "c"}


def test_host_budgets_and_dequeue(spark):
    robots = spark.createDataFrame(
        [("h1.com", [], 10_000), ("h2.com", [], 100)], ROBOTS_SCHEMA
    )
    budgets = host_budgets(robots, round_interval_ms=30_000, default_budget=50)
    got = {r["host"]: r["host_budget"] for r in budgets.collect()}
    assert got == {"h1.com": 3, "h2.com": 50}  # 30s/10s=3; 30s/0.1s=300 capped at 50

    rows = [
        (f"u{h}{i}", f"http://h{h}.com/{i}", f"h{h}.com", ["t"], 0, 10 - i, 0, 0, 0, None, None, None, None, 0)
        for h in (1, 2, 3) for i in range(5)
    ]
    fr = spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)
    cfg = CrawlConfig(politeness=Politeness(budget_per_host_per_round=4))
    dq = planner_dequeue(fr, cfg, 100, got)[0].collect()
    from collections import Counter
    per_host = Counter(r["host"] for r in dq)
    assert per_host == {"h1.com": 3, "h2.com": 4, "h3.com": 4}  # robots < cfg < no-row default
    assert [r["url_id"] for r in dq] == reference_dequeue(fr, cfg, 100, got)


def test_robots_crawl_end_to_end(spark, tmp_path):
    docs, url_of = generate_web(n_articles=30, seed=9)
    robots = spark.createDataFrame(
        [("site.example.com", ["/articles/1"], None)], ROBOTS_SCHEMA
    )
    cfg = canonical_config(politeness=Politeness(respect_robots=True))
    c = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path / "wh", robots=robots)
    c.run(max_rounds=6)
    urls = [r["url"] for r in c.wh.read_frontier().collect()]
    # /articles/1* paths were never merged (except the seed-round has none)
    assert not any("/articles/1" in u for u in urls)
    assert any("/articles/2" in u for u in urls)
    assert c.metrics_total().get("ROBOTS_BLOCKED_LINKS", 0) > 0


def _probe(bloom: PartitionedBloom, ids) -> dict[str, bool]:
    """url_id → the driver probe's verdict, keys hashed JVM-side as the
    ingest hashes them."""
    h1, h2 = _h1h2(F.col("url_id"))
    t = ids.select("url_id", "part", h1.alias("h1"), h2.alias("h2")).toArrow()
    hit = bloom.probe(*(t[c].to_numpy() for c in ("part", "h1", "h2")))
    return dict(zip(t["url_id"].to_pylist(), hit.tolist()))


def test_bloom_no_false_negatives_and_exactness(spark, tmp_path):
    cfg = CrawlConfig(partitions=8, salt=2, allow_by_default=True)
    from dumb_crawler_spark.corpus import frontier_urls_from_range

    urls = frontier_urls_from_range(spark, 3000)
    kernel = FR.UrlKernel(cfg)
    cands_all = kernel.candidates(urls)
    wh = Warehouse(spark, tmp_path / "wh")
    kernel.ingest(wh, urls.limit(2000), 0, None, seeds=True)
    wh.commit_round(0, {})
    frontier = wh.read_frontier_seen_ids(0).cache()
    bloom = PartitionedBloom.build(frontier, expected_per_part=512)

    verdict = _probe(bloom, cands_all)
    seen_ids = {r["url_id"] for r in frontier.select("url_id").collect()}
    for uid in seen_ids:
        assert verdict[uid], f"false negative for {uid}"
    fp = sum(1 for uid, hit in verdict.items() if hit and uid not in seen_ids)
    assert fp / len(verdict) < 0.05  # fpr sane

    # union is a plain bitmap OR: the two halves' filters OR to the whole's
    half = lambda cond: PartitionedBloom.build(frontier.where(cond), expected_per_part=512)  # noqa: E731
    assert half("url_id < '5'").union(half("url_id >= '5'")).filters == bloom.filters

    exact = {r["url_id"] for r in cands_all.join(frontier, "url_id", "left_anti").collect()}
    for rnd, b in ((1, bloom), (2, None)):
        ins, _ = kernel.ingest(wh, urls, rnd, 0, bloom=b)
        assert set(ins["url_id"].to_pylist()) == exact and ins.num_rows == len(exact)


def test_bloom_regrows_past_its_presize(spark, tmp_path, monkeypatch):
    """The URL-seen bloom is presized for max(floor, 8 × frontier per part)
    keys. A crawl from one seed outgrows that many times over; once a part
    holds more keys than its presize, the next round rebuilds the filter
    presized from the current frontier, so the false-positive share over
    url_ids never inserted stays near the 1% design rate."""
    from dumb_crawler_spark import crawler as CR

    monkeypatch.setattr(CR, "BLOOM_PRESIZE_FLOOR", 16)
    presizes = []
    build = PartitionedBloom.build

    def recording_build(*args, **kwargs):
        presizes.append(kwargs["expected_per_part"])
        return build(*args, **kwargs)

    monkeypatch.setattr(PartitionedBloom, "build", staticmethod(recording_build))
    docs, _ = generate_web(n_articles=120, seed=4)
    cfg = canonical_config(partitions=1, thread_count=50)
    c = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path / "wh", use_bloom=True)
    c.bootstrap()
    never = spark.createDataFrame(
        [(f"never-{i}", 0) for i in range(2000)], "url_id string, part int"
    )
    fp_shares = []
    for rnd in range(1, 5):
        c.run_round(rnd)
        if c._bloom is not None:
            fp_shares.append(sum(_probe(c._bloom, never).values()) / 2000)
    assert presizes[0] == 16 and c._fr_count > 4 * presizes[0]
    assert fp_shares and max(fp_shares) < 0.05, fp_shares
    assert len(presizes) >= 2  # rebuilt, presized from the grown frontier


def test_bloom_crawl_matches_plain_crawl(spark, tmp_path):
    docs, _ = generate_web(n_articles=30, seed=4)
    cfg = canonical_config()
    plain = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path / "plain")
    plain.run(max_rounds=4)
    bloomed = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path / "bloom", use_bloom=True)
    bloomed.run(max_rounds=4)

    def state(c):
        return sorted(
            (r["url_id"], r["status"], r["attempt"]) for r in c.wh.read_frontier().collect()
        )

    assert state(plain) == state(bloomed)
    assert plain.metrics_total() == bloomed.metrics_total()
