"""Golden end-to-end (SURVEY.md §5.2-5.3): engine crawl == oracle crawl on
the same deterministic synthetic web — exact dequeue order per round (D2),
final URL-seen set, status histogram (A2), counters (A3), and the per-row
span-sequence invariant (BASELINE.json input_hint)."""

from __future__ import annotations

import dataclasses
import json

import pytest
from pyspark.sql import functions as F

from dumb_crawler_spark.config import Politeness, load_config
from dumb_crawler_spark.corpus import DOCS_SCHEMA, canonical_config, docs_to_spark, generate_web
from dumb_crawler_spark.crawler import Crawler
from dumb_crawler_spark.frontier import PROCESSING
from dumb_crawler_spark.oracle import OracleCrawler, canonicalize, url_id

ROUNDS = 6
SITE = "http://site.example.com"


@pytest.fixture(scope="module")
def web():
    return generate_web(n_articles=40, seed=42)


def _run_pair(spark, tmp_path, cfg, docs, max_rounds=ROUNDS, sdocs=None):
    oracle = OracleCrawler(cfg, docs).run(max_rounds=max_rounds)
    sdocs = docs_to_spark(spark, docs) if sdocs is None else sdocs
    engine = Crawler(spark, cfg, sdocs, tmp_path / "wh")
    engine.run(max_rounds=max_rounds)
    return oracle, engine


@pytest.fixture(scope="module")
def pairs(spark, tmp_path_factory, web):
    """(docs, oracle, engine) of two crawls of the web: the canonical config,
    and one that takes the T4 and 404 paths — a seed T4 rejects (it leaks as
    PROCESSING), a seed with no doc, a doc with NULL spans (a nullable docs
    frame; the oracle reads a missing doc), one attempt per URL."""
    docs, _ = web
    canonical = _run_pair(spark, tmp_path_factory.mktemp("golden"), canonical_config(), docs)
    cfg = canonical_config(
        seeds=(f"{SITE}/", "http://elsewhere.example.org/", f"{SITE}/articles/7"),
        max_attempt_count=1,
    )
    hit = {k: v for k, v in docs.items() if k not in ("3", "7")}
    spans_t = DOCS_SCHEMA["spans"].dataType.simpleString()
    sdocs = docs_to_spark(spark, hit).unionByName(
        spark.createDataFrame([("3", None)], f"doc_id string, spans {spans_t}")
    )
    misses = _run_pair(
        spark, tmp_path_factory.mktemp("golden_misses"), cfg, {**hit, "3": None}, sdocs=sdocs
    )
    return [(docs, *canonical), (hit, *misses)]


def test_dequeue_order_exact(pairs):
    for _, oracle, engine in pairs:
        got = [
            (r["round"], r["seq"], r["url_id"])
            for r in engine.dequeue_order().orderBy("round", "seq").collect()
        ]
        assert got == oracle.dequeue_order


def test_final_seen_set(pairs):
    for _, oracle, engine in pairs:
        fr = engine.wh.read_frontier()
        assert {r["url_id"] for r in fr.select("url_id").collect()} == oracle.seen_set()


def test_status_histogram(pairs):
    from dumb_crawler_spark.frontier import status_counts

    for _, oracle, engine in pairs:
        got = {r["status"]: r["count"] for r in status_counts(engine.wh.read_frontier()).collect()}
        assert got == oracle.status_hist()
    assert got[PROCESSING] == 1  # the second crawl's T4-rejected seed leaks


def test_counters(pairs):
    for _, oracle, engine in pairs:
        got = engine.metrics_total()
        exp = {k: v for k, v in oracle.counters.items() if v}
        assert got == exp
    # the second crawl's no-doc seed and NULL-spans doc are both fetched
    assert got["ERROR_INVALID_STATUS_CODE_404"] >= 2


def test_span_sequence_invariant(pairs):
    """Per-row invariant: stored pages preserve (kind, text, media_ref, order)
    exactly as in the docs input (L3)."""
    for docs, oracle, engine in pairs:
        pages = engine.pages()
        assert pages is not None
        rows = pages.select("url_id", "spans").collect()
        assert len(rows) == len(oracle.pages)
        oracle_by_id = {p["url_id"]: p for p in oracle.pages}
        for r in rows:
            src = sorted(docs[r["url_id"]], key=lambda s: s["offset"])
            got = [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
            exp = [(s["kind"], s["text"], s["media_ref"]) for s in src]
            assert got == exp, r["url_id"]
            assert r["url_id"] in oracle_by_id


def test_spans_stored_out_of_order_come_back_in_offset_order(spark, tmp_path):
    """L3 at crawl level: docs whose spans are stored out of offset order
    come back in offset order — in the saved page of one that validates,
    and in the errors row of one that fails validation. The crawl still
    matches the oracle on this corpus."""
    cfg = canonical_config()
    host = "http://site.example.com"

    def shuffled(body, *links):  # offsets 2, 0, 1
        texts = {2: "tail", 0: body, 1: " ".join(f'<a href="{l}">' for l in links)}
        return [{"kind": "text", "text": t, "media_ref": None, "offset": o} for o, t in texts.items()]

    docs = {
        url_id(canonicalize(f"{host}/"), cfg.id_extractor_pattern): shuffled(
            "welcome", f"{host}/articles/1", f"{host}/articles/2"
        ),
        "1": shuffled("article-body", f"{host}/"),
        "2": shuffled("no body", f"{host}/"),  # fails the article selector
    }
    oracle, engine = _run_pair(spark, tmp_path, cfg, docs, max_rounds=3)
    offsets = lambda df: {r["url_id"]: [s["offset"] for s in r["spans"]] for r in df.collect()}
    assert offsets(engine.pages()) == {"1": [0, 1, 2]}
    assert offsets(engine.wh.read_deltas("errors")) == {"2": [0, 1, 2]}
    assert [(p["url_id"], p["spans"]) for p in oracle.pages] == [
        (r["url_id"], [s.asDict() for s in r["spans"]]) for r in engine.pages().collect()
    ]
    assert engine.metrics_total() == {k: v for k, v in oracle.counters.items() if v}


def test_frontier_urls_match(pairs):
    """Beyond ids: stored url/priority/attempt/error values match the oracle."""
    for _, oracle, engine in pairs:
        fr = {r["url_id"]: r for r in engine.wh.read_frontier().collect()}
        for uid, e in oracle.frontier.items():
            r = fr[uid]
            assert r["url"] == e.url and r["priority"] == e.priority, uid
            assert r["status"] == e.status and r["attempt"] == e.attempt, uid
            assert r["error"] == e.error, uid
            assert r["tags"] == e.tags, uid
            assert r["depth"] == e.depth and r["created_round"] == e.created_round, uid


def test_empty_included_tags_store_nothing(spark, tmp_path, web):
    """`"includedTags": []` stores NO page, in the engine and in the oracle
    alike (the reference's shouldStore can only return true on a tag hit,
    AbstractStorageManager.java:22-35): every fetched page counts as
    UNSAVED_PAGES and the crawl is otherwise the same."""
    docs, _ = web
    path = tmp_path / "config.json"
    path.write_text(json.dumps({"storage": {"includedTags": []}}))
    tags = load_config(path).storage_included_tags
    assert tags == ()
    cfg = dataclasses.replace(canonical_config(), storage_included_tags=tags)
    oracle, engine = _run_pair(spark, tmp_path, cfg, docs, max_rounds=3)
    assert oracle.pages == [] and engine.pages() is None
    counters = engine.metrics_total()
    assert counters["UNSAVED_PAGES"] == counters["PROCESSED_URLS"] > 0
    assert "SAVED_PAGES" not in counters
    assert counters == {k: v for k, v in oracle.counters.items() if v}


def test_politeness_budget_parity(spark, tmp_path, web):
    """Same run with a per-host budget: engine and oracle agree (north rule)."""
    docs, _ = web
    cfg = canonical_config(politeness=Politeness(budget_per_host_per_round=3), thread_count=4)
    oracle, engine = _run_pair(spark, tmp_path, cfg, docs, max_rounds=4)
    got = [
        (r["round"], r["seq"], r["url_id"])
        for r in engine.dequeue_order().orderBy("round", "seq").collect()
    ]
    assert got == oracle.dequeue_order
    assert {r["url_id"] for r in engine.wh.read_frontier().select("url_id").collect()} == oracle.seen_set()
    assert engine.metrics_total() == {k: v for k, v in oracle.counters.items() if v}


def test_budget_table_crawl_matches_oracle(spark, tmp_path):
    """Robots crawl-delay budgets (empty disallow lists) that bind on both
    hosts in every round: the engine's planner reads them as a driver
    table; the oracle caps each host at host_budgets[host]. Dequeue order,
    seen set and counters must match."""
    from collections import Counter

    from dumb_crawler_spark.robots import ROBOTS_SCHEMA

    docs, _ = generate_web(n_articles=40, n_hot=30, seed=42)
    seeds = ("http://site.example.com/",) + tuple(
        f"http://site.example.com/articles/{j}" for j in (2, 3, 4)
    ) + tuple(f"http://hot.example.com/articles/{j}" for j in range(10))
    cfg = canonical_config(
        seeds=seeds, thread_count=4, politeness=Politeness(respect_robots=True)
    )
    # one fetch per 20 s / 30 s in a 60 s round: budgets 3 and 2
    robots = spark.createDataFrame(
        [("site.example.com", [], 20_000), ("hot.example.com", [], 30_000)], ROBOTS_SCHEMA
    )
    budgets = {"site.example.com": 3, "hot.example.com": 2}
    rounds = 4
    oracle = OracleCrawler(cfg, docs, host_budgets=budgets).run(max_rounds=rounds)
    engine = Crawler(spark, cfg, docs_to_spark(spark, docs), tmp_path / "wh", robots=robots)
    engine.run(max_rounds=rounds)
    # the budgets bind: every round takes exactly each host's budget
    per_round = Counter(
        (rnd, oracle.frontier[uid].host) for rnd, _, uid in oracle.dequeue_order
    )
    assert per_round == {
        (rnd, host): b for rnd in range(1, rounds + 1) for host, b in budgets.items()
    }
    got = [
        (r["round"], r["seq"], r["url_id"])
        for r in engine.dequeue_order().orderBy("round", "seq").collect()
    ]
    assert got == oracle.dequeue_order
    fr = engine.wh.read_frontier()
    assert {r["url_id"] for r in fr.select("url_id").collect()} == oracle.seen_set()
    assert engine.metrics_total() == {k: v for k, v in oracle.counters.items() if v}
