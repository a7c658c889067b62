"""Checkpoint/resume tests (SURVEY.md §5.4): interrupted run + resume ==
uninterrupted run; crash mid-round rolls back to the last committed round
(C2 orphan semantics via snapshot rollback)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dumb_crawler_spark.corpus import canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.storage import Warehouse
from dumb_crawler_spark.streaming import stream_gated_ingest


def _frontier_state(crawler):
    rows = crawler.wh.read_frontier().collect()
    return sorted((r["url_id"], r["status"], r["attempt"], r["error"]) for r in rows)


def _dq(crawler):
    return [(r["round"], r["seq"], r["url_id"]) for r in crawler.dequeue_order().orderBy("round", "seq").collect()]


def test_resume_equals_uninterrupted(spark, tmp_path):
    docs, _ = generate_web(n_articles=30, seed=7)
    cfg = canonical_config()
    sdocs = docs_to_spark(spark, docs)

    # uninterrupted: 5 rounds
    full = Crawler(spark, cfg, sdocs, tmp_path / "full")
    full.run(max_rounds=5)

    # interrupted: 2 rounds, then a NEW crawler resumes for 3 more
    a = Crawler(spark, cfg, sdocs, tmp_path / "split")
    a.run(max_rounds=2)
    b = Crawler(spark, cfg, sdocs, tmp_path / "split")
    assert b.wh.last_committed_round() == 2  # resume detection (S3/A6)
    b.run(max_rounds=3)

    assert _frontier_state(b) == _frontier_state(full)
    assert _dq(b) == _dq(full)
    assert b.wh.read_deltas("metrics").count() == full.wh.read_deltas("metrics").count()


def test_crash_mid_round_rolls_back(spark, tmp_path):
    docs, _ = generate_web(n_articles=30, seed=7)
    cfg = canonical_config()
    sdocs = docs_to_spark(spark, docs)

    c = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    c.run(max_rounds=3)
    state_r2_marker = tmp_path / "wh" / "_commits" / "_round-00000003.json"

    # simulate crash AFTER round-3 table writes but BEFORE the commit marker
    os.remove(state_r2_marker)
    resumed = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    start = resumed.bootstrap()
    assert start == 2
    # round-3 snapshot/deltas were rolled back
    assert not (tmp_path / "wh" / "frontier" / "snap-00000003").exists()
    assert not (tmp_path / "wh" / "pages" / "delta-00000003").exists()

    # re-running from round 2 reproduces the same round 3 (determinism)
    ref = Crawler(spark, cfg, sdocs, tmp_path / "ref")
    ref.run(max_rounds=3)
    resumed.run(max_rounds=1)
    assert _frontier_state(resumed) == _frontier_state(ref)
    assert _dq(resumed) == _dq(ref)


def test_terminated_marker_on_empty_frontier(spark, tmp_path):
    docs, _ = generate_web(n_articles=6, seed=3)
    cfg = canonical_config(thread_count=50)  # huge budget → exhaust quickly
    c = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path / "wh")
    c.run(max_rounds=30)
    wh = Warehouse(spark, tmp_path / "wh")
    assert wh.is_terminated()  # S12 marker (CrawlingSessionContext.java:203-218)


def test_crawler_refuses_round_after_another_writers_commit(spark, tmp_path):
    """A stream batch commits round 2 between two rounds of a live Crawler:
    its planner counts miss the stream's rows, so it refuses to run round 2
    (or any later round) on that warehouse. A fresh Crawler resumes from the
    stream's commit, and its next round dequeues the stream's row."""
    docs, _ = generate_web(n_articles=30, seed=7)
    cfg = canonical_config(thread_count=50)  # k = 100: round 3 takes every queued row
    sdocs = docs_to_spark(spark, docs)
    c = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    c.bootstrap()
    c.run_round(1)

    new = "http://site.example.com/articles/9999"
    spark.createDataFrame([(new, "2024-01-01 00:00:10")], "url string, ts string").select(
        "url", F.col("ts").cast("timestamp")
    ).write.parquet(str(tmp_path / "in"))
    q = stream_gated_ingest(
        spark, cfg, str(tmp_path / "wh"), str(tmp_path / "in"), str(tmp_path / "ck"),
        budget_per_host=1_000, window_seconds=60,
    )
    q.awaitTermination(120)
    last = c.wh.last_committed_round()
    assert last > 1  # the stream's batch is a round of its own

    for rnd in (2, last + 1):
        with pytest.raises(RuntimeError, match="refused"):
            c.run_round(rnd)
    assert c.wh.last_committed_round() == last

    resumed = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    assert resumed.bootstrap() == last
    resumed.run_round(last + 1)
    taken = {r["url_id"] for r in resumed.dequeue_order().where(f"round = {last + 1}").collect()}
    stream_id = resumed.wh.read_frontier().where(F.col("url") == new).collect()[0]["url_id"]
    assert stream_id in taken
