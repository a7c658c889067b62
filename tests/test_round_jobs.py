"""Spark jobs per crawl round, pinned. Every k-bounded step of a round is one
Spark action or pure driver work (crawler.py module docstring), so a change
that re-adds a per-round job fails here loudly. Also pinned: the counters
observed on the ins write stay exact under the bloom's two-branch union, the
Warehouse's pinned read schemas return what schema inference returns, and
the dequeue_order lineage and the frontier read back across a warehouse
written before their `host` and `saved_round` columns existed."""

from __future__ import annotations

import uuid

import pyarrow.parquet as pq
import pytest
from test_pages_split import _tiny_web

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import Politeness
from dumb_crawler_spark.corpus import canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.robots import ROBOTS_SCHEMA

# steady-state jobs of one round on local[4]; before the dequeued batch was
# collected to the driver these rounds ran 36 and 30 jobs, before the robots
# round was planned from the planner's driver-side counts (no per-round
# grouping-sets probe) it ran 20, and before UPDATED_PAGES was read off the
# frontier row the threshold round (it saves pages) ran 15
ROBOTS_BLOOM_MAX_JOBS = 15
THRESHOLD_MAX_JOBS = 14
ROUNDS = 3  # rounds 1-2 pay first reads; round 3 is counted


def _round_jobs(c: Crawler, round_no: int) -> int:
    sc = c.spark.sparkContext
    group = f"round-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"round {round_no}")
    try:
        c.run_round(round_no)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _crawl(c: Crawler) -> int:
    """Bootstrap, rounds 1..ROUNDS-1, then the counted round's job count."""
    c.bootstrap()
    for r in range(1, ROUNDS):
        c.run_round(r)
    return _round_jobs(c, ROUNDS)


def _order(c: Crawler) -> list[tuple]:
    return [
        (r["round"], r["seq"], r["url_id"])
        for r in c.dequeue_order().orderBy("round", "seq").collect()
    ]


@pytest.fixture(scope="module")
def robots_crawls(spark, tmp_path_factory):
    """(robots+bloom crawler, its round-3 job count, robots-only crawler)."""
    docs, _ = generate_web(n_articles=30, seed=9)
    robots = spark.createDataFrame([("site.example.com", ["/articles/1"], 1500)], ROBOTS_SCHEMA)
    cfg = canonical_config(politeness=Politeness(respect_robots=True))
    root = tmp_path_factory.mktemp("round_jobs")
    sdocs = docs_to_spark(spark, docs)
    bloomed = Crawler(spark, cfg, sdocs, root / "bloom", robots=robots, use_bloom=True)
    jobs = _crawl(bloomed)
    plain = Crawler(spark, cfg, sdocs, root / "plain", robots=robots)
    _crawl(plain)
    return bloomed, jobs, plain


def test_robots_bloom_round_job_count(robots_crawls):
    _, jobs, _ = robots_crawls
    assert jobs <= ROBOTS_BLOOM_MAX_JOBS, f"{jobs} jobs"


def test_threshold_round_job_count(spark, tmp_path):
    docs, _ = generate_web(n_articles=40, seed=42)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(FR, "_TOPK_THRESHOLD_CUTOFF", 0)
        c = Crawler(spark, canonical_config(), docs_to_spark(spark, docs), tmp_path / "wh")
        jobs = _crawl(c)
    assert c._planner.ready  # the planner's threshold form ran
    assert jobs <= THRESHOLD_MAX_JOBS, f"{jobs} jobs"


def test_observed_counters_exact_under_bloom_union(robots_crawls):
    """The F2/robots counters ride the ins write as an Observation below the
    bloom's certain-new/suspect union: they must equal the robots-only
    crawl's, whose plan has a single branch."""
    bloomed, _, plain = robots_crawls
    got = bloomed.metrics_total()
    assert got.get("ROBOTS_BLOCKED_LINKS", 0) > 0
    assert got == plain.metrics_total()
    assert _order(bloomed) == _order(plain)


def test_pinned_reads_match_inferred_reads(spark, robots_crawls):
    """For every warehouse table and kind, a read under the pinned schema
    returns the same columns, types and rows as schema inference."""
    c, _, _ = robots_crawls
    wh, root = c.wh, c.wh.root
    last = wh.last_committed_round()

    def dirs(table, prefix):
        return sorted(str(d) for d in (root / table).glob(f"{prefix}-*"))

    base, ins, upd = wh._frontier_pieces(last)
    pinned = {
        ("frontier", "snap"): wh.read_snapshot("frontier", 0),
        ("frontier", "ins"): ins,
        ("frontier", "upd"): upd,
        **{(t, "delta"): wh.read_deltas(t) for t in ("pages", "errors", "metrics", "dequeue_order")},
    }
    # a second read of the delta tables the round itself never reads goes
    # through the schema the first read pinned
    for t in ("errors", "metrics"):
        pinned[(t, "delta")] = wh.read_deltas(t)
    for (table, kind), df in pinned.items():
        assert (table, kind) in wh._schemas, (table, kind)
        assert df is not None, (table, kind)
        inferred = spark.read.parquet(*dirs(table, kind))
        assert [(f.name, f.dataType) for f in df.schema] == [
            (f.name, f.dataType) for f in inferred.schema
        ], (table, kind)
        assert sorted(map(repr, df.collect())) == sorted(map(repr, inferred.collect())), (
            table, kind,
        )


def test_dequeue_order_reads_pre_host_deltas(spark, tmp_path):
    """A warehouse whose round-1 lineage delta predates the `host` column
    reads back through Crawler.dequeue_order() with one schema — round int,
    seq bigint, url_id string, host string — and NULL host for the old rows."""
    docs, _ = generate_web(n_articles=12, seed=2)
    cfg = canonical_config()
    sdocs = docs_to_spark(spark, docs)
    Crawler(spark, cfg, sdocs, tmp_path / "wh").run(max_rounds=2)
    old = tmp_path / "wh" / "dequeue_order" / "delta-00000001"
    for f in old.glob("*.parquet"):
        pq.write_table(pq.read_table(f).drop(["host"]), f)

    df = Crawler(spark, cfg, sdocs, tmp_path / "wh").dequeue_order()
    assert df.schema.simpleString() == "struct<round:int,seq:bigint,url_id:string,host:string>"
    rows = df.collect()
    assert {r["round"] for r in rows} == {1, 2}
    assert all(r["host"] is None for r in rows if r["round"] == 1)
    assert all(r["host"] is not None for r in rows if r["round"] == 2)


def test_refetch_reads_pre_saved_round_frontier(spark, tmp_path):
    """A warehouse whose frontier dirs (snap, ins, upd) predate the
    `saved_round` column resumes through the pinned read schemas, NULL in
    that column. A refetch then counts the pages saved before the column
    existed as NEW (FIXTURES.md §3): nothing on their rows records the save."""
    cfg = canonical_config(thread_count=16)  # k = 32: the tiny web crawls out in 2 rounds
    sdocs = docs_to_spark(spark, _tiny_web(cfg))
    root = tmp_path / "wh"
    Crawler(spark, cfg, sdocs, root).run(max_rounds=2)
    saved_before = {r["url_id"] for r in Crawler(spark, cfg, sdocs, root).pages().collect()}
    assert saved_before
    stripped = 0
    for f in (root / "frontier").glob("*/*.parquet"):
        # without Spark's footer schema too, which still names the column
        pq.write_table(pq.read_table(f).drop(["saved_round"]).replace_schema_metadata(None), f)
        f.with_name(f".{f.name}.crc").unlink(missing_ok=True)  # Spark's stale checksum
        stripped += 1
    assert stripped

    c = Crawler(spark, cfg, sdocs, root)
    c.run(max_rounds=2, refetch=True)
    counters = [s.counters for s in c.history]
    saved_n = sum(m.get("SAVED_PAGES", 0) for m in counters)
    assert sum(m.get("UPDATED_PAGES", 0) for m in counters) == 0
    assert sum(m.get("NEW_SAVED_PAGES", 0) for m in counters) == saved_n
    resaved = {r["url_id"] for r in c.pages().where("round > 2").collect()}
    assert resaved == saved_before and saved_n == len(resaved)
    # the saves made since are on the frontier rows again
    fr = c.wh.read_frontier()
    assert {r["url_id"] for r in fr.where("saved_round IS NOT NULL").collect()} == resaved
