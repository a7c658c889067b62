"""Checkpoint/resume tests (SURVEY.md §5.4): interrupted run + resume ==
uninterrupted run; crash mid-round rolls back to the last committed round
(C2 orphan semantics via snapshot rollback)."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dumb_crawler_spark.corpus import canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.storage import Warehouse
from dumb_crawler_spark.streaming import stream_gated_ingest


def _frontier_state(crawler, round_no=None):
    rows = crawler.wh.read_frontier(round_no).collect()
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


def test_second_commit_of_a_round_raises(tmp_path, spark):
    """The round marker is created exclusively: of two writers committing
    the same round (a crawl and a stream, say), the second raises instead of
    overwriting the first's commit."""
    wh = Warehouse(spark, tmp_path / "wh")
    wh.commit_round(1, {"writer": "first"})
    with pytest.raises(FileExistsError):
        wh.commit_round(1, {"writer": "second"})
    marker = tmp_path / "wh" / "_commits" / "_round-00000001.json"
    assert '"first"' in marker.read_text()
    assert [p.name for p in marker.parent.iterdir()] == [marker.name]  # no temp left
    assert wh.committed_rounds() == [1]


def test_resume_sizes_the_frontier_from_footers(spark, tmp_path):
    """A resume sizes the frontier (the URL-seen bloom's presize) from the
    parquet footers of the snapshot and its ins- deltas, with no Spark job:
    equal to the composed frontier's count on a warehouse with both ins and
    upd deltas."""
    docs, _ = generate_web(n_articles=30, seed=7)
    cfg = canonical_config()
    sdocs = docs_to_spark(spark, docs)
    Crawler(spark, cfg, sdocs, tmp_path / "wh").run(max_rounds=3)
    frontier = tmp_path / "wh" / "frontier"
    assert list(frontier.glob("ins-*")) and list(frontier.glob("upd-*"))
    c = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    sc = spark.sparkContext
    group = f"resume-{os.getpid()}"
    sc.setJobGroup(group, "resume")
    try:
        assert c.bootstrap() == 3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert c._fr_count == c.wh.read_frontier(3).count() == c.wh.frontier_size(3)


def test_resume_reclaims_orphan_temp_dirs(spark, tmp_path):
    """A write killed before its rename leaves a ``.tmp-<hex>`` dir in its
    table's folder (and a marker write a ``.tmp-<hex>`` file in
    ``_commits``); the resume's rollback pass deletes them."""
    docs, _ = generate_web(n_articles=30, seed=7)
    cfg = canonical_config()
    sdocs = docs_to_spark(spark, docs)
    Crawler(spark, cfg, sdocs, tmp_path / "wh").run(max_rounds=2)
    wh = tmp_path / "wh"
    orphans = [wh / "frontier" / ".tmp-abc123", wh / "pages" / ".tmp-0f9e8d", wh / "_commits" / ".tmp-77"]
    for d in orphans[:2]:
        d.mkdir()
        (d / "part-00000.parquet").write_bytes(b"partial")
    orphans[2].write_text("{")
    assert Crawler(spark, cfg, sdocs, wh).bootstrap() == 2
    assert [d for d in orphans if d.exists()] == []


# -- crash points around frontier expiry (compaction every round) -------------

class Killed(Exception):
    """A process kill at an injected point."""


@pytest.fixture(scope="module")
def corpus(spark):
    docs, _ = generate_web(n_articles=30, seed=7)
    return canonical_config(), docs_to_spark(spark, docs)


def _compacting(spark, corpus, root) -> Crawler:
    cfg, sdocs = corpus
    return Crawler(spark, cfg, sdocs, root, compact_every=1)


def _state(crawler):
    """Lineage, per-round counters and frontier of the last committed round."""
    metrics = sorted(
        (r["round"], r["counter"], r["value"]) for r in crawler.wh.read_deltas("metrics").collect()
    )
    return _dq(crawler), metrics, _frontier_state(crawler)


def _frontier_listing(root):
    return sorted(d.name for d in (root / "frontier").iterdir() if d.is_dir())


@pytest.fixture(scope="module")
def compacting_ref(spark, corpus, tmp_path_factory):
    """An uninterrupted 4-round crawl that compacts every round: its final
    state, and its frontier as of each round, read as the round committed."""
    c = _compacting(spark, corpus, tmp_path_factory.mktemp("ref") / "wh")
    c.bootstrap()
    per_round = {0: _frontier_state(c)}
    for rnd in range(1, 5):
        c.run_round(rnd)
        per_round[rnd] = _frontier_state(c)
    return _state(c), per_round


def _kill_before_marker(m):
    def commit_round(self, round_no, info):
        raise Killed

    m.setattr(Warehouse, "commit_round", commit_round)


def _kill_before_expiry(m):
    def expire_frontier(self):
        raise Killed

    m.setattr(Warehouse, "expire_frontier", expire_frontier)


def _kill_mid_expiry(m):
    real, calls = shutil.rmtree, []

    def rmtree(path, *a, **k):
        calls.append(path)
        if len(calls) > 1:
            raise Killed
        real(path, *a, **k)

    m.setattr(shutil, "rmtree", rmtree)


@pytest.mark.parametrize(
    "kill, committed",
    [(_kill_before_marker, 2), (_kill_before_expiry, 3), (_kill_mid_expiry, 3)],
    ids=["before-marker", "before-expiry", "mid-expiry"],
)
def test_kill_around_a_compacting_commit(spark, corpus, compacting_ref, tmp_path, monkeypatch, kill, committed):
    """Round 3 of a crawl that compacts every round is killed before its
    marker, after it but before the expiry, or midway through the expiry.
    A reader then gets every committed round's frontier exactly or an
    "expired" error (never an older snapshot with its deltas gone), the
    last round's always, and a resumed crawl finishes the expiry and gives
    the uninterrupted run's lineage, counters and frontier."""
    ref, per_round = compacting_ref
    root = tmp_path / "wh"
    c = _compacting(spark, corpus, root)
    c.run(max_rounds=2)
    with monkeypatch.context() as m:
        kill(m)
        with pytest.raises(Killed):
            c.run_round(3)
    wh = Warehouse(spark, root)
    assert wh.last_committed_round() == committed
    assert (root / "frontier" / "snap-00000003").exists()
    assert _frontier_state(c, committed) == per_round[committed]
    for rnd in range(committed):
        try:
            assert _frontier_state(c, rnd) == per_round[rnd]
        except FileNotFoundError as e:
            assert "expired" in str(e)

    resumed = _compacting(spark, corpus, root)
    assert resumed.bootstrap() == committed
    assert _frontier_listing(root) == ["snap-00000000", f"snap-{committed:08d}"]
    resumed.run(max_rounds=4 - committed)
    assert _state(resumed) == ref
    assert _frontier_listing(root) == ["snap-00000000", "snap-00000004"]


def test_refetch_reset_killed_mid_replace(spark, corpus, tmp_path, monkeypatch):
    """The refetch reset rewrites its round's snapshot in place. Killed
    before the new snapshot is renamed in, it leaves a frontier that raises
    on read instead of composing the seed snapshot with no deltas; the
    rerun gets the old snapshot back, resets again and matches an
    uninterrupted run."""
    def crawl(root):
        _compacting(spark, corpus, root).run(max_rounds=3)

    crawl(tmp_path / "ref")
    ref = _compacting(spark, corpus, tmp_path / "ref")
    ref.run(max_rounds=1, refetch=True)

    root = tmp_path / "wh"
    crawl(root)
    real = Path.rename

    def rename(self, target):
        if self.name.startswith(".tmp-") and Path(target).name == "snap-00000003":
            raise Killed
        return real(self, target)

    with monkeypatch.context() as m:
        m.setattr(Path, "rename", rename)
        with pytest.raises(Killed):
            _compacting(spark, corpus, root).run(max_rounds=1, refetch=True)
    assert not (root / "frontier" / "snap-00000003").exists()
    with pytest.raises(FileNotFoundError, match="expired"):
        Warehouse(spark, root).read_frontier()

    resumed = _compacting(spark, corpus, root)
    resumed.run(max_rounds=1, refetch=True)
    assert _state(resumed) == _state(ref)
    assert _frontier_listing(root) == ["snap-00000000", "snap-00000004"]
    assert not [d for d in (root / "frontier").iterdir() if d.name.startswith(".")]


def test_compaction_keeps_the_first_and_latest_snapshot(spark, corpus, tmp_path):
    """Growth guard: after 6 rounds that each compact, the frontier holds
    the seed snapshot and the latest one, nothing else. Reading a round in
    between raises; the retained rounds read as before."""
    c = _compacting(spark, corpus, tmp_path / "wh")
    c.run(max_rounds=6)
    assert c.wh.last_committed_round() == 6
    assert _frontier_listing(tmp_path / "wh") == ["snap-00000000", "snap-00000006"]
    for rnd in (1, 5):
        with pytest.raises(FileNotFoundError, match="expired"):
            c.wh.read_frontier(rnd)
    assert c.wh.read_frontier(0).count() == len(corpus[0].seeds)
    assert c.wh.read_frontier(6).count() == c.wh.frontier_size(6) == c._fr_count


def test_warehouse_without_expiry_reads_every_round(spark, corpus, compacting_ref, tmp_path, monkeypatch):
    """A warehouse written before expiry existed keeps every snapshot and
    delta: a reader composes every round of it as the rounds committed. The
    first writer to resume it expires it like any other."""
    _, per_round = compacting_ref
    root = tmp_path / "wh"
    with monkeypatch.context() as m:
        m.setattr(Warehouse, "expire_frontier", lambda self: None)
        _compacting(spark, corpus, root).run(max_rounds=4)
    assert len(_frontier_listing(root)) > 5
    c = _compacting(spark, corpus, root)
    for rnd in range(5):
        assert _frontier_state(c, rnd) == per_round[rnd]
    c.bootstrap()
    assert _frontier_listing(root) == ["snap-00000000", "snap-00000004"]
    with pytest.raises(FileNotFoundError, match="expired"):
        c.wh.read_frontier(2)
    assert _frontier_state(c) == per_round[4]
