"""Frontier operator tests (SURVEY.md §5.1/§5.5): J1-J3 dedup+anti-join,
A1 dequeue ordering + politeness budget, C3 status transitions — the
merge-on-read round delta against a full rewrite of the frontier."""

from __future__ import annotations

import pyarrow as pa
from planner_ref import planner_dequeue
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dumb_crawler_spark import frontier as FR
from dumb_crawler_spark.config import CrawlConfig, Politeness
from dumb_crawler_spark.corpus import canonical_config
from dumb_crawler_spark.filters import should_store


def _mk_frontier(spark, rows):
    """rows: (url_id, url, host, priority, status, attempt[, saved_round])"""
    data = [
        (uid, url, host, ["t"], status, prio, att, 0, 0, None, None, saved[0] if saved else None,
         None, 0)
        for uid, url, host, prio, status, att, *saved in rows
    ]
    return spark.createDataFrame(data, FR.FRONTIER_SCHEMA)


def test_merge_antijoin_and_batch_dedup(spark):
    cfg = canonical_config()
    fr = _mk_frontier(spark, [("a", "http://site.example.com/a", "site.example.com", 5, 0, 0)])
    cands = spark.createDataFrame(
        [
            ("a", "http://site.example.com/a", "site.example.com", ["t"], 9, 0),   # seen → skipped
            ("b", "http://site.example.com/b", "site.example.com", ["t"], 1, 0),
            ("b", "http://site.example.com/b2", "site.example.com", ["t"], 7, 0),  # D1: max prio wins
            ("c", "http://x.com/c1", "x.com", ["t"], 3, 0),
            ("c", "http://x.com/c0", "x.com", ["t"], 3, 0),                        # D1 tie: min url wins
            ("f", "ftp://x.com/f", "x.com", ["t"], 3, 0),                          # F1 drop
        ],
        "url_id string, url string, host string, tags array<string>, priority int, part int",
    )
    # the frontier as read after the round's ins delta (base ∪ inserts)
    ins = FR.UrlKernel(cfg).new_rows(fr, cands, round_no=2, depth=2)
    rows = {r["url_id"]: r for r in FR.compose_frontier(fr, ins, None).collect()}
    assert set(rows) == {"a", "b", "c"}
    assert rows["a"]["priority"] == 5  # untouched
    assert rows["b"]["url"] == "http://site.example.com/b2" and rows["b"]["priority"] == 7
    assert rows["c"]["url"] == "http://x.com/c0"
    assert rows["b"]["created_round"] == 2 and rows["b"]["depth"] == 2
    assert rows["b"]["status"] == FR.QUEUED and rows["b"]["attempt"] == 0


def test_dequeue_order_and_limit(spark):
    cfg = CrawlConfig(max_attempt_count=5)
    fr = _mk_frontier(spark, [
        ("u1", "http://h1/a", "h1", 10, 0, 0),
        ("u2", "http://h1/b", "h1", 10, 0, 1),   # same prio, higher attempt → later
        ("u0", "http://h1/c", "h1", 10, 0, 0),   # same prio/attempt, url_id tiebreak
        ("u3", "http://h2/d", "h2", 99, 0, 0),   # top priority
        ("u4", "http://h2/e", "h2", 1, 1, 0),    # PROCESSING → ineligible
        ("u5", "http://h2/f", "h2", 1, 0, 5),    # attempt ≥ max → ineligible (F7)
    ])
    got = [r["url_id"] for r in planner_dequeue(fr, cfg, 10)[0].collect()]
    assert got == ["u3", "u0", "u1", "u2"]  # D2: prio DESC, attempt ASC, url_id ASC
    assert [r["url_id"] for r in planner_dequeue(fr, cfg, 2)[0].collect()] == ["u3", "u0"]


def test_dequeue_politeness_budget(spark):
    cfg = CrawlConfig(politeness=Politeness(budget_per_host_per_round=2))
    fr = _mk_frontier(spark, [
        ("a1", "http://h1/1", "h1", 9, 0, 0),
        ("a2", "http://h1/2", "h1", 8, 0, 0),
        ("a3", "http://h1/3", "h1", 7, 0, 0),   # over h1 budget
        ("b1", "http://h2/1", "h2", 5, 0, 0),
    ])
    got = [r["url_id"] for r in planner_dequeue(fr, cfg, 10)[0].collect()]
    assert got == ["a1", "a2", "b1"]


# -- full-rewrite reference for the merge-on-read round delta ------------------
# A round's status transitions, applied by rewriting the whole frontier —
# O(frontier) per round, so the engine never runs this. It is the reference
# that frontier.round_update_delta (an Arrow table) + compose_frontier must
# reproduce.

def mark_taken(frontier: DataFrame, dequeued: DataFrame, round_no: int) -> DataFrame:
    """status QUEUED→PROCESSING + taken_round (URLStore.java:191-206)."""
    taken = F.broadcast(dequeued.select("url_id", F.lit(True).alias("_taken")))
    return (
        frontier.join(taken, "url_id", "left")
        .withColumn(
            "status",
            F.when(F.col("_taken"), F.lit(FR.PROCESSING).cast("tinyint")).otherwise(F.col("status")),
        )
        .withColumn(
            "taken_round",
            F.when(F.col("_taken"), F.lit(round_no)).otherwise(F.col("taken_round")),
        )
        .drop("_taken")
    )


def mark_completed(frontier: DataFrame, results: DataFrame, cfg: CrawlConfig, round_no: int) -> DataFrame:
    """C3: completion MERGE (URLStore.java:159-183). ``results`` needs
    url_id, tags (fresh), ok (bool), error (null when ok). status →
    PROCESSED(2) | FAILED(3), FAILED terminal (SURVEY.md §2.8-C3);
    attempt += 1 always. saved_round = round_no when the page is saved
    (ok ∧ F3 store gate on the fresh tags), else kept."""
    upd = F.broadcast(
        results.select(
            "url_id",
            F.col("tags").alias("_new_tags"),
            F.when(F.col("ok"), F.lit(FR.PROCESSED)).otherwise(F.lit(FR.FAILED)).cast("tinyint").alias("_new_status"),
            F.col("error").alias("_new_error"),
            (F.col("ok") & should_store(F.col("tags"), cfg)).alias("_new_saved"),
        )
    )
    done = F.col("_new_status").isNotNull()
    return (
        frontier.join(upd, "url_id", "left")
        .withColumn("status", F.coalesce(F.col("_new_status"), F.col("status")))
        .withColumn("tags", F.when(done, F.col("_new_tags")).otherwise(F.col("tags")))
        .withColumn("error", F.when(done, F.col("_new_error")).otherwise(F.col("error")))
        .withColumn("attempt", F.when(done, F.col("attempt") + 1).otherwise(F.col("attempt")))
        .withColumn("completed_round", F.when(done, F.lit(round_no)).otherwise(F.col("completed_round")))
        .withColumn(
            "saved_round",
            F.when(done & F.col("_new_saved"), F.lit(round_no)).otherwise(F.col("saved_round")),
        )
        .drop("_new_tags", "_new_status", "_new_error", "_new_saved")
    )


def test_mark_taken_and_completed(spark):
    cfg = CrawlConfig(max_attempt_count=5)
    fr = _mk_frontier(spark, [
        ("a", "http://h/a", "h", 1, 0, 0),
        ("b", "http://h/b", "h", 1, 0, 0),
        ("c", "http://h/c", "h", 1, 0, 0),
    ])
    dq = planner_dequeue(fr, cfg, 2)[0]
    fr1 = mark_taken(fr, dq, round_no=3)
    st = {r["url_id"]: r for r in fr1.collect()}
    assert st["a"]["status"] == FR.PROCESSING and st["a"]["taken_round"] == 3
    assert st["c"]["status"] == FR.QUEUED and st["c"]["taken_round"] is None

    results = spark.createDataFrame(
        [("a", ["fresh"], True, None), ("b", ["fresh"], False, "INVALID_STATUS_CODE_404")],
        "url_id string, tags array<string>, ok boolean, error string",
    )
    fr2 = mark_completed(fr1, results, cfg, round_no=3)
    st2 = {r["url_id"]: r for r in fr2.collect()}
    assert st2["a"]["status"] == FR.PROCESSED and st2["a"]["attempt"] == 1
    assert st2["a"]["tags"] == ["fresh"] and st2["a"]["completed_round"] == 3
    assert st2["b"]["status"] == FR.FAILED and st2["b"]["error"] == "INVALID_STATUS_CODE_404"
    assert st2["c"]["status"] == FR.QUEUED and st2["c"]["attempt"] == 0


def test_status_counts(spark):
    fr = _mk_frontier(spark, [
        ("a", "http://h/a", "h", 1, 0, 0),
        ("b", "http://h/b", "h", 1, 2, 0),
        ("c", "http://h/c", "h", 1, 2, 0),
    ])
    got = {r["status"]: r["count"] for r in FR.status_counts(fr).collect()}
    assert got == {0: 1, 2: 2}


def test_round_update_delta_equals_full_rewrite(spark):
    """The engine's merge-on-read path — the round's k-row update delta,
    composed onto the frontier on read — must equal rewriting the whole
    frontier with mark_taken → mark_completed."""
    cfg = CrawlConfig(max_attempt_count=5, storage_included_tags=("fresh",))
    fr = _mk_frontier(spark, [
        ("a", "http://h/a", "h", 1, 0, 0),   # saved this round
        ("b", "http://h/b", "h", 1, 0, 0),
        ("c", "http://h/c", "h", 1, 0, 0),   # dequeued but filtered → leaked PROCESSING
        ("d", "http://h/d", "h", 1, 0, 0),   # untouched
        ("e", "http://h/e", "h", 1, 0, 0),   # ok, but the store gate refuses it
        ("f", "http://h/f", "h", 1, 0, 0, 2),  # saved in round 2, fails now
    ])
    dq = pa.table({"url_id": ["a", "b", "c", "e", "f"]})
    # `saved` is the fetch artifact's F3 gate column (ok ∧ should_store)
    results = pa.table({
        "url_id": ["a", "b", "e", "f"],
        "tags": [["fresh"], ["fresh"], ["other"], ["fresh"]],
        "ok": [True, False, True, False],
        "error": [None, "E", None, "E"],
        "saved": [True, False, False, False],
    })
    upd = spark.createDataFrame(FR.round_update_delta(dq, results, 4))
    composed = FR.compose_frontier(fr, None, upd)
    # the full rewrite reads the same inputs as Spark tables
    dq, results = spark.createDataFrame(dq), spark.createDataFrame(results)
    two_step = mark_completed(mark_taken(fr, dq, 4), results, cfg, 4)
    cols = sorted(fr.columns)
    key = lambda t: repr(t)
    composed_rows = sorted((tuple(r[c] for c in cols) for r in composed.collect()), key=key)
    two_rows = sorted((tuple(r[c] for c in cols) for r in two_step.collect()), key=key)
    assert composed_rows == two_rows
    st = {r["url_id"]: r for r in composed.collect()}
    assert st["c"]["status"] == FR.PROCESSING and st["c"]["taken_round"] == 4
    assert st["d"]["status"] == FR.QUEUED
    assert st["a"]["saved_round"] == 4
    assert st["e"]["status"] == FR.PROCESSED and st["e"]["saved_round"] is None
    assert st["f"]["status"] == FR.FAILED and st["f"]["saved_round"] == 2
